package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Structured JSON through Jackson's tree model: keys and strings are
  * escaped by the library and numbers are written with
  * `Double.toString`, which does not depend on the default locale. */
object Json {
  private val mapper = new ObjectMapper()

  def obj(fields: (String, Any)*): ObjectNode = {
    val n = mapper.createObjectNode()
    fields.foreach { case (k, v) => put(n, k, v) }
    n
  }

  def put(n: ObjectNode, k: String, v: Any): Unit = v match {
    case null => n.putNull(k)
    case x: ObjectNode => n.set[ObjectNode](k, x)
    case x: String => n.put(k, x)
    case x: Boolean => n.put(k, x)
    case x: Int => n.put(k, x)
    case x: Long => n.put(k, x)
    case x: Double => n.put(k, x)
    case x: Map[_, _] =>
      val c = n.putObject(k)
      x.toSeq.map { case (kk, vv) => (kk.toString, vv) }.sortBy(_._1)
        .foreach { case (kk, vv) => put(c, kk, vv) }
    case x: Seq[_] =>
      val a = n.putArray(k)
      x.foreach {
        case s: String => a.add(s)
        case d: Double => a.add(d)
        case l: Long => a.add(l)
        case i: Int => a.add(i)
        case o: ObjectNode => a.add(o)
        case other => a.add(other.toString)
      }
    case other => n.put(k, other.toString)
  }

  def write(n: ObjectNode): String = mapper.writeValueAsString(n)

  def read(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)

  def readFile(f: java.io.File): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(f)

  def writeFile(f: java.io.File, n: ObjectNode): Unit = {
    f.getParentFile.mkdirs()
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, n)
  }
}
