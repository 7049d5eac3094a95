package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out (Jackson with its Scala module, as shipped with Spark). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readMap(path: String): Map[String, Any] =
    mapper.readValue(new File(path), classOf[Map[String, Any]])

  def readLongs(path: String): Seq[Long] =
    mapper.readValue(new File(path), classOf[Seq[Any]]).map(_.toString.toLong)

  def writeFile(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
}
