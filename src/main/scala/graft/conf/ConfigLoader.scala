package graft.conf

import scala.jdk.CollectionConverters._

/** Typed reads of a YAML document parsed by SnakeYAML (already on
  * Spark's classpath; `new Yaml().load` is safe-load, no arbitrary-type
  * tags), which yields `java.util` boxes. [[graft.app.CurateMain]] reads
  * its `curate:` section through these: a value of the wrong type fails
  * with an IllegalArgumentException that names its key. */
object ConfigLoader {

  private[graft] def asMap(o: Object): Map[String, Object] = o match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[Object] }.toMap
    case null => Map.empty
    case other =>
      throw new IllegalArgumentException(s"expected a YAML mapping, got $other")
  }

  private def notA(key: String, what: String, o: Any) =
    new IllegalArgumentException(s"$key: not $what: $o")

  private[graft] def section(m: Map[String, Object],
                             key: String): Map[String, Object] =
    m.get(key) match {
      case Some(v: java.util.Map[_, _]) => asMap(v)
      case None | Some(null) => Map.empty
      case Some(o) => throw notA(key, "a YAML mapping", o)
    }

  private[graft] def int(m: Map[String, Object], key: String, dflt: Int): Int =
    m.get(key).map {
      case n: Number => n.intValue()
      case s: String => s.toIntOption.getOrElse(throw notA(key, "an int", s))
      case o => throw notA(key, "an int", o)
    }.getOrElse(dflt)

  private[graft] def long(m: Map[String, Object], key: String,
                          dflt: Long): Long =
    m.get(key).map {
      case n: Number => n.longValue()
      case s: String => s.toLongOption.getOrElse(throw notA(key, "an int", s))
      case o => throw notA(key, "an int", o)
    }.getOrElse(dflt)

  private[graft] def dbl(m: Map[String, Object], key: String,
                         dflt: Double): Double =
    m.get(key).map {
      case n: Number => n.doubleValue()
      case s: String =>
        s.toDoubleOption.getOrElse(throw notA(key, "a number", s))
      case o => throw notA(key, "a number", o)
    }.getOrElse(dflt)

  private[graft] def bool(m: Map[String, Object], key: String,
                          dflt: Boolean): Boolean =
    m.get(key).map {
      case b: java.lang.Boolean => b.booleanValue
      case o => throw notA(key, "a boolean", o)
    }.getOrElse(dflt)

  private[graft] def str(m: Map[String, Object], key: String): Option[String] =
    m.get(key).map(_.toString)

  /** A YAML list, or one scalar as a one-element list. */
  private[graft] def strList(m: Map[String, Object],
                             key: String): Option[Seq[String]] =
    m.get(key).map {
      case l: java.util.List[_] => l.asScala.toSeq.map(_.toString)
      case one => Seq(one.toString)
    }
}
