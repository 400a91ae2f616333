package graftbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result lines, trace files and references: Jackson with its
  * Scala module, both on Spark's classpath.
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def parse(s: String): JsonNode = mapper.readTree(s)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
}
