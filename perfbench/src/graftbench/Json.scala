package graftbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON encoding of the harness's result maps (Jackson, with its Scala
  * module for maps, sequences and options). */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def encode(v: Any): String = mapper.writeValueAsString(v)
}
