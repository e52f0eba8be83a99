import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

package object perfbench {
  /** A node of the raw run record run.py reads: insertion-ordered, with
    * numbers, strings, Records, or Seqs/Maps of those as values. */
  type Record = scala.collection.mutable.LinkedHashMap[String, Any]
  def Record(kvs: (String, Any)*): Record = scala.collection.mutable.LinkedHashMap(kvs: _*)

  private lazy val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def toJson(r: Record): String = mapper.writeValueAsString(r)
}
