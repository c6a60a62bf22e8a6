package graftbench

/** Minimal JSON rendering for the harness's result file: maps,
  * sequences, numbers, strings, booleans and null. Strings are escaped
  * and the file is written atomically by graft.Verify's helpers.
  */
object Json {

  def render(v: Any): String = v match {
    case null | None        => "null"
    case Some(x)            => render(x)
    case s: String          => graft.Verify.jsonStr(s)
    case b: Boolean         => b.toString
    case d: Double          => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int             => n.toString
    case n: Long            => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => graft.Verify.jsonStr(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]    => xs.map(render).mkString("[", ",", "]")
    case other              => graft.Verify.jsonStr(other.toString)
  }

  def write(path: String, v: Any): Unit = graft.Verify.writeAtomic(path, render(v))
}
