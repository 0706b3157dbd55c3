package graft.perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Plain Scala values (maps, sequences, numbers, strings) to and from
  * JSON text, through the json4s that ships with Spark.
  */
object Json {

  def value(v: Any): JValue = v match {
    case null | None                   => JNull
    case Some(x)                       => value(x)
    case b: Boolean                    => JBool(b)
    case i: Int                        => JLong(i.toLong)
    case l: Long                       => JLong(l)
    case d: Double                     => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case s: String                     => JString(s)
    case m: scala.collection.Map[_, _] =>
      JObject(m.toList.map { case (k, x) => JField(k.toString, value(x)) })
    case xs: Iterable[_]               => JArray(xs.toList.map(value))
    case other                         => JString(other.toString)
  }

  def write(v: Any): String = JsonMethods.compact(JsonMethods.render(value(v)))

  /** Parsed JSON as Scala values: objects become `Map[String, Any]`,
    * integers `BigInt`, decimals `Double`.
    */
  def read(text: String): Any = JsonMethods.parse(text).values
}
