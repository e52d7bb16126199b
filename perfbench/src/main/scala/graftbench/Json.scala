package graftbench

import graft.Verify.jsonQuote

/** Minimal JSON writer for the run record (strings, numbers, booleans,
  * null, sequences and maps with string keys). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => jsonQuote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => jsonQuote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => jsonQuote(other.toString)
  }

  def obj(kvs: (String, Any)*): String = apply(collection.immutable.ListMap(kvs: _*))
}
