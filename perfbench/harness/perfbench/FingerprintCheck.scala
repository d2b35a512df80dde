package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks that [[Fingerprint]] ignores row order and partitioning and
  * sees a changed value, a lost row and a duplicated row. Run by
  * test_benchlib.py; prints "fingerprint ok" on success. */
object FingerprintCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    import spark.implicits._
    try {
      val df = (1 to 200).map(i => (i.toLong, s"s$i", i * 0.5, Map("k" -> i)))
        .toDF("a", "b", "c", "m")
      val base = Fingerprint.of(df)
      val cases = Seq(
        "reordered" -> (Fingerprint.of(df.orderBy(rand(7)).repartition(3)) == base),
        "changed value" -> (Fingerprint.of(
          df.withColumn("c", when($"a" === 5, 0.0).otherwise($"c"))) != base),
        "lost row" -> (Fingerprint.of(df.filter($"a" =!= 5)) != base),
        "duplicated row" -> (Fingerprint.of(df.union(df.filter($"a" === 5))) != base),
        "duplicate column names" -> (Fingerprint.of(df.select($"a", $"a")) ==
          Fingerprint.of(df.select($"a", $"a".as("b")))))
      val failed = cases.collect { case (n, false) => n }
      require(failed.isEmpty, s"fingerprint check failed: ${failed.mkString(", ")}")
      println(s"fingerprint ok $base")
    } finally spark.stop()
  }
}
