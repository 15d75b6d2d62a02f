package perfbench

import java.nio.file.{Files, Path}

/** JSON through the json4s that ships with Spark: the result tree out, the
  * flat string map of expected fingerprints in. */
object Json {
  def apply(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  def readStringMap(p: Path): Map[String, String] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(Files.readString(p)) match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }
}
