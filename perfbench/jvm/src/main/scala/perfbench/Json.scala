package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The benchmark's own records as JSON, through the Jackson Spark ships. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def str(v: Any): String = mapper.writeValueAsString(v)

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
