package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}
import scala.util.Try

/** The harness's one JSON reader and writer (jackson-module-scala, which
  * ships with Spark). Case classes, `Seq`s and ordered maps serialize by
  * shape; `None` is written as null. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read(s: String): JsonNode = mapper.readTree(s)

  /** Writes `v` as one line to `path`. */
  def writeFile(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), write(v) + "\n")

  /** The parsed file, or None when it is missing or not JSON. */
  def readFile(path: String): Option[JsonNode] =
    Try(mapper.readTree(new java.io.File(path))).toOption.filter(n => n != null && !n.isMissingNode)
}
