package graft
import org.apache.spark.sql.functions._
object ProfileQ238 {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.builder("profile-q238", 32)
      .master("local[32]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    val mins = scala.collection.mutable.Map[String, Double]()
    for (r <- 1 to 6; c <- Seq("default", "0")) {
      if (c == "0") spark.conf.set("spark.graft.rank.cutoverRows", "0")
      else spark.conf.unset("spark.graft.rank.cutoverRows")
      val t0 = System.nanoTime()
      graft.core.CacheScope.scoped {
        SparkEntry.queries("q238_kmv_overlap_matrix")(spark, dir).count()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"round $r conf=$c%-8s ${dt}%6.3f s")
      mins(c) = math.min(mins.getOrElse(c, 9e9), dt)
    }
    println(mins.toSeq.sortBy(_._1).map{case(k,v)=>f"$k min ${v}%5.3f"}.mkString("  "))
    spark.stop()
  }
}
