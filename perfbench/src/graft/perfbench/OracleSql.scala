package graft.perfbench

/** Writes each catalog workload's mix with the entries' `oracleSql` as
  * JSON, `{workload: {query: sql}}`: `OracleSql <file>`.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val out = new java.util.TreeMap[String, java.util.Map[String, String]]()
    Seq("analyst_queries" -> Catalog.analyst, "train_prep" -> Catalog.trainPrep).foreach {
      case (w, mix) =>
        val m = new java.util.LinkedHashMap[String, String]()
        mix.foreach(q => m.put(q, sql.getOrElse(q, "")))
        out.put(w, m)
    }
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new java.io.File(args(0)), out)
  }
}
