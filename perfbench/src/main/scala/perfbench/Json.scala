package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON writer for the result line and the record (Scala maps, sequences
  * and options included).
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
