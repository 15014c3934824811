package graft

import org.apache.spark.sql.functions._

/** Two-real-JVM race evidence for [[IndexStore]]: each probe process
  * resolves the SAME (name, formatVersion, fingerprint) against a cold
  * shared store, with a deliberate in-build sleep that forces the two
  * JVMs' build windows to overlap. The winner publishes; the loser's
  * colliding snapshot commit raises ConcurrentSnapshotException, which
  * resolve degrades to awaiting the winner's sentinel. Each probe then
  * READS BACK every resolved part and prints one JSON line with a
  * content hash — `tools/race_probe.sh` launches two of these
  * concurrently and asserts both hashes are identical (complete,
  * untorn, same-content index on both sides of the race).
  *
  * Usage (normally via tools/race_probe.sh):
  *   SPARK_GRAFT_INDEX_DIR=/tmp/store tools/run_main.sh graft.IndexRaceProbe /root/testdata/sf0.001
  */
object IndexRaceProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val parts = IndexStore.resolve(spark, "race_probe", 1, d, Seq("nation.parquet")) { dirOf =>
      // hold the build open so a concurrently-launched peer is
      // guaranteed to enter the cold-store build path too
      Thread.sleep(3000)
      val nation = Tables.nation(spark, d)
        .select($"n_nationkey".cast("long").as("k"), $"n_name".as("v"))
      val v = operators.Snapshots.commit(nation, dirOf("snap"), replace = true)
      IndexStore.publishPlainDir(dirOf("plain")) { tmp =>
        nation.withColumn("tag", lit("plain")).write.parquet(tmp)
      }
      Map("snap" -> v, "plain" -> 0)
    }

    // read back EVERY part and hash the full content deterministically
    val snapHash = operators.Snapshots.read(spark, parts("snap"))
      .select(md5(concat_ws("|", col("k"), col("v"))).as("h"))
      .agg(md5(concat_ws(",", sort_array(collect_list(col("h"))))).as("H"))
      .as[String].head()
    val plainHash = spark.read.parquet(parts("plain"))
      .select(md5(concat_ws("|", col("k"), col("v"), col("tag"))).as("h"))
      .agg(md5(concat_ws(",", sort_array(collect_list(col("h"))))).as("H"))
      .as[String].head()
    val partsStr = parts.toSeq.sorted.map { case (k, p) => s""""$k":"$p"""" }.mkString(",")
    println(s"""{"probe":"index_race","parts":{$partsStr},"snap_hash":"$snapHash","plain_hash":"$plainHash"}""")
    spark.stop()
  }
}
