package graft

import java.nio.file.Files

import graft.build.{IndexBuilder, ManifestIO}
import graft.query.IndexSearcher
import graft.streaming.StreamingAppend

class StreamingAppendSpec extends SparkSpec {

  test("watermarked windowed aggregation over the events stream matches batch") {
    import org.apache.spark.sql.functions._
    val eventsFile = s"$sf0001/events.parquet"
    // the file stream source needs a DIRECTORY; stage the single file
    val eventsDir = Files.createTempDirectory("graft-events-stream").toString
    Files.copy(java.nio.file.Paths.get(eventsFile),
      java.nio.file.Paths.get(eventsDir, "events.parquet"))
    val schema = spark.read.parquet(eventsFile).schema
    val agg = spark.readStream
      .schema(schema)
      .parquet(eventsDir)
      // parquet ts is TIMESTAMP_NTZ; watermarks need TIMESTAMP (UTC session)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("total"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("ev_win")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ev_win")
      .orderBy("wstart", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = spark.read.parquet(eventsFile)
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(col("w.start"), col("event_type"), col("n"), col("total"))
      .orderBy("start", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("directory stream appends mini-segments; new docs become searchable") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft-stream-idx").toString
    IndexBuilder.build(spark, sf0001, indexDir,
      IndexBuilder.BuildConfig(resume = false))
    val n0 = ManifestIO.read(s"$indexDir/manifest.json").num_docs

    val watch = Files.createTempDirectory("graft-stream-in").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    def land(name: String, rows: Seq[(String, String, String, String, String)]): Unit = {
      // the file stream source watches top-level FILES: stage the batch
      // then move its part file into the watch dir
      val tmp = Files.createTempDirectory("graft-stream-stage").toString
      rows.toDF("repo", "path", "commit", "lang", "content")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(watch, s"$name.parquet"))
    }

    val q = StreamingAppend.start(spark, watch, indexDir, ckpt)
    try {
      land("b1",
        Seq(("repo-s", "src/s/a.c", "aaaa00000001", "c", "xylophone quartz melody")))
      q.processAllAvailable()
      land("b2",
        Seq(("repo-s", "src/s/b.c", "aaaa00000002", "c", "quartz melody xylophone quartz")))
      q.processAllAvailable()
    } finally q.stop()

    val m = ManifestIO.read(s"$indexDir/manifest.json")
    assert(m.num_docs == n0 + 2)
    val hits = IndexSearcher.topK(spark, indexDir, Seq(1 -> Seq("quartz")), 5)
      .collect()
    assert(hits.map(_.getLong(2)).toSet == Set(n0, n0 + 1))
    // higher tf ranks first: batch-2 doc has quartz tf=2
    assert(hits.head.getLong(2) == n0 + 1)
  }

  test("a crash before a stream batch's commit: the replayed batch applies exactly once") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-crash").toString
    IndexBuilder.build(spark, sf0001, base,
      IndexBuilder.BuildConfig(resume = false))
    val n0 = ManifestIO.read(s"$base/manifest.json").num_docs
    val batch = (0 until 3).map(i =>
      ("repo-r", f"src/r/$i%03d.c", f"beef0000000$i", "c", s"replay guard $i"))
      .toDF("repo", "path", "commit", "lang", "content")
    def dirIds(dir: String) = spark.read.parquet(s"$dir/docstore")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    Seq(None, Some(new scala.util.Random(5))).foreach { rnd =>
      val dir = CrashStates.copyIndex(base)
      CrashStates.crashBeforeCommit(dir,
        StreamingAppend.applyBatch(_, batch, 0L), rnd)
      assert(StreamingAppend.lastAppliedBatch(dir) == -1L)
      assert(ManifestIO.read(s"$dir/manifest.json").num_docs == n0)
      // the replay applies the batch once
      assert(StreamingAppend.applyBatch(dir, batch, 0L))
      assert(StreamingAppend.lastAppliedBatch(dir) == 0L)
      assert(ManifestIO.read(s"$dir/manifest.json").num_docs == n0 + 3)
      assert(dirIds(dir) == (0L until n0 + 3))
      // and a further replay is skipped
      assert(!StreamingAppend.applyBatch(dir, batch, 0L))
      assert(dirIds(dir) == (0L until n0 + 3))
    }
  }
}
