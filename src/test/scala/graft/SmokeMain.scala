package graft

/** Manual smoke harness: drives the driver contract exactly as the round
  * driver does — SparkEntry.entry(spark) must return rows > 0.
  */
object SmokeMain {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4, "4", "graft-smoke", "WARN")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    require(rows.nonEmpty, "entry must return rows")
    spark.stop()
  }
}
