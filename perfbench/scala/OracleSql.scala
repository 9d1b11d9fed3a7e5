package graftbench

/** `OracleSql <out.tsv>`: writes graft's DuckDB oracle SQL
  * (`SparkEntry.oracleSql`), one `name \t sql` per line. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(args(0), "UTF-8")
    try graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) =>
      out.println(k + "\t" + v.replace('\n', ' ').replace('\t', ' '))
    } finally out.close()
  }
}
