package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.api.TupleJob
import graft.io.{AvroSource, GSchema, MultiSink, Tables}
import graft.operators.{GameOfLife, Multimodal}

/** End-to-end tour of the library surface beyond the driver contract:
  * Tuple MapReduce façade, I/O formats, multimodal plumbing, iterative jobs.
  * `sbt "runMain graft.Demo [sfDir]"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder("local[4]", 4)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 1. TupleJob grouped reduce with secondary sort (Pangool's core op)
    val out = TupleJob.groupBy(Tables.events(spark, sfDir), "user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
      .reduce(GSchema.parse("user_id:long, event_type:string, first_value:double")) {
        (key, rows) =>
          val first = rows.next(); while (rows.hasNext) rows.next()
          Iterator(Row(key.get(0), key.get(1), first.getAs[Double]("value")))
      }
    println(s"[demo] TupleJob secondary-sort reduce: ${out.count()} groups")

    // 2. Rollup via GROUP BY ROLLUP (declarative twin of TupleRollupReducer)
    println(s"[demo] rollup rows: ${operators.Relational.rollupAgg(spark, sfDir).count()}")

    // 3. I/O: avro round-trip + multi-sink named outputs
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val sample = Tables.nation(spark, sfDir)
    AvroSource.write(sample, s"$tmpDir/nation-avro")
    val back = AvroSource.read(spark, s"$tmpDir/nation-avro", sample.schema)
    println(s"[demo] avro round-trip: wrote ${sample.count()}, read ${back.count()}")
    MultiSink.partitionByLabel(
      Tables.events(spark, sfDir).select("event_id", "event_type", "value"),
      "event_type", s"$tmpDir/by-type")
    println(s"[demo] multi-sink labels: ${new java.io.File(s"$tmpDir/by-type").listFiles().count(_.getName.startsWith("event_type="))}")

    // 4. Multimodal: binary column → batched feature extraction
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sfDir))
    println(s"[demo] media features: ${feats.count()} rows, dim=${feats.head().features.length}")

    val resized = Multimodal.resize(Multimodal.mediaTable(spark, sfDir), 8, 6)
    println(s"[demo] resized to 8x6: ${resized.filter(_.media.length == 48).count()} of ${resized.count()}")

    // 5. Iterative job: Game of Life glider, 4 generations
    val glider = Seq((1L, 0L), (2L, 1L), (0L, 2L), (1L, 2L), (2L, 2L))
    println(s"[demo] glider cells after 4 gens: ${GameOfLife.run(spark, glider, 4).count()}")

    // 6. SQL surface via GraftExtensions
    val dot = spark.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d").head.getDouble(0)
    println(s"[demo] SQL graft_dot = $dot")

    // 7. Skew tooling: salted join equals plain join
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, sfDir).select(col("c_custkey").as("o_custkey"), col("c_name"))
    val n1 = operators.Skew.saltedJoin(o, c, "o_custkey", 7).count()
    val n2 = o.join(c, "o_custkey").count()
    println(s"[demo] salted join rows=$n1 plain=$n2 equal=${n1 == n2}")

    spark.stop()
  }
}
