package graft.tools
import graft.GraftSession
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val n = graft.SparkEntry.entry(spark).count()
    println(s"ENTRY rows=$n")
    spark.stop()
  }
}
