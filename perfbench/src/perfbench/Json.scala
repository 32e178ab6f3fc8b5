package perfbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The benchmark's JSON reader and writer (Jackson, as Spark ships it). */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One JSON object on one line, its fields in the given order. */
  def line(fields: (String, Any)*): String = mapper.writeValueAsString(ListMap(fields: _*))
}
