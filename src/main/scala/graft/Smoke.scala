package graft

/** Local smoke: replicates the driver's t1 check (entry() rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = sql.GraftExtensions.localSession("8")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"[smoke] entry rows = $n")
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
