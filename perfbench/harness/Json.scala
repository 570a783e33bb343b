package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON reading and writing with the Jackson copy (and its Scala module)
  * that ships with Spark. Maps are written in their iteration order. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def writeFile(path: java.nio.file.Path, v: Any): Unit = mapper.writeValue(path.toFile, v)

  def read(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)
}
