package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{MlFeed, Multimodal}
import graft.streaming.StreamOps

class FeedStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.local(4)

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A temp input dir that is reaped at JVM exit (see [[afterAll]]). */
  private def tempDir(prefix: String): java.nio.file.Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.synchronized(tempDirs += d)
    d
  }

  // the dirs' files exist only once their tests have run; deleteOnExit
  // runs in reverse registration order, so register parents first
  override def afterAll(): Unit = try {
    for (d <- tempDirs if Files.exists(d)) {
      val walk = Files.walk(d)
      try walk.forEach(p => p.toFile.deleteOnExit()) finally walk.close()
    }
  } finally super.afterAll()

  lazy val daily = {
    import spark.implicits._
    (1 to 20).map(i => (1L, java.sql.Date.valueOf(f"2024-01-$i%02d"), i * 1.0))
      .toDF("user_id", "day", "v")
  }

  test("ml_feed samples have the right window shapes, in day order") {
    val s = MlFeed.samples(daily, 10, 5).collect().head
    val x = s.getSeq[Float](1)
    val y = s.getSeq[Float](2)
    assert(x.length === 10 && y.length === 5)
    assert(x.head === 6.0f && x.last === 15.0f) // days 6..15
    assert(y.head === 16.0f && y.last === 20.0f) // days 16..20
  }

  test("writeShards + batches: sharded roundtrip, bounded batch size") {
    val dir = tempDir("mlfeed").toString
    val many = daily.unionByName(daily.withColumn("user_id", col("user_id") + 1))
      .unionByName(daily.withColumn("user_id", col("user_id") + 2))
    MlFeed.writeShards(MlFeed.samples(many, 10, 5), dir, 2)
    val b = MlFeed.batches(spark, dir, 2).collect()
    assert(b.map(_.getAs[Int]("n")).sum === 3)
    assert(b.forall(_.getAs[Int]("n") <= 2))
    val xs = b.head.getSeq[Seq[Float]](2)
    assert(xs.head.length === 10)
  }

  test("batchesByShard: deterministic per-shard numbering that matches shardOf") {
    import spark.implicits._
    val dir = tempDir("mlfeed-sh").toString
    val many = (0 until 10).map(u => daily.withColumn("user_id", col("user_id") + u))
      .reduce(_ unionByName _)
    val samples = MlFeed.samples(many, 10, 5)
    MlFeed.writeShards(samples, dir, 3)
    // expected shard per user from the SAME public arithmetic
    val expected = samples.select(col("user_id"),
        MlFeed.shardOf(col("user_id"), 3).as("shard")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val perShard = expected.groupBy(_._2).view.mapValues(_.size).toMap
    val b = MlFeed.batchesByShard(spark, dir, 2).collect()
    // every user lands in its shardOf shard, batches never cross shards
    assert(b.map(_.getAs[Int]("n")).sum === 10)
    assert(b.forall(_.getAs[Int]("n") <= 2))
    val byShard = b.groupBy(_.getAs[Int]("shard"))
    assert(byShard.keySet === expected.values.toSet)
    byShard.foreach { case (shard, rows) =>
      assert(rows.map(_.getAs[Int]("n")).sum === perShard(shard))
      // per-shard batch ids are 0..k-1 and only the LAST batch is short
      val sorted = rows.sortBy(_.getAs[Int]("batch"))
      assert(sorted.map(_.getAs[Int]("batch")).toSeq === sorted.indices.toSeq)
      assert(sorted.dropRight(1).forall(_.getAs[Int]("n") == 2))
    }
    // rerun → identical composition (deterministic files + assignment)
    val again = MlFeed.batchesByShard(spark, dir, 2).collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Int]("batch"), r.getAs[Int]("n"))).toSet
    assert(again === b.map(r => (r.getAs[Int]("shard"), r.getAs[Int]("batch"), r.getAs[Int]("n"))).toSet)
  }

  test("batchesByShard validation fails loudly when a shard file splits across read partitions") {
    import spark.implicits._
    val dir = tempDir("mlfeed-split").toString
    // one shard, one file, MANY row groups (tiny parquet.block.size), so
    // a small maxPartitionBytes genuinely yields rows in several read
    // partitions — the exact silent-corruption scenario of ADVICE r8
    val big = (0 until 2000)
      .map(i => (0, Array.fill(64)(i.toFloat), Array.fill(8)(i.toFloat)))
      .toDF("shard", "x", "y")
    big.repartition(1).write.option("parquet.block.size", "1024")
      .mode("overwrite").partitionBy("shard").parquet(dir)
    val conf = spark.conf
    val prevMax = conf.getOption("spark.sql.files.maxPartitionBytes")
    val prevCost = conf.getOption("spark.sql.files.openCostInBytes")
    conf.set("spark.sql.files.maxPartitionBytes", "16384")
    conf.set("spark.sql.files.openCostInBytes", "1024")
    try {
      val e = intercept[IllegalStateException](
        MlFeed.batchesByShard(spark, dir, 100).collect())
      assert(e.getMessage.contains("split across read partitions"))
      // same layout under sane split confs: validation passes and the
      // feed is whole (openCost must come back up too — maxSplitBytes is
      // min(maxPartitionBytes, max(openCostInBytes, bytesPerCore)), so a
      // tiny openCost alone keeps splitting small files to fill cores)
      conf.set("spark.sql.files.maxPartitionBytes", String.valueOf(128L * 1024 * 1024))
      conf.set("spark.sql.files.openCostInBytes", String.valueOf(4L * 1024 * 1024))
      assert(MlFeed.batchesByShard(spark, dir, 500).collect()
        .map(_.getAs[Int]("n")).sum === 2000)
    } finally {
      prevMax.fold(conf.unset("spark.sql.files.maxPartitionBytes"))(
        conf.set("spark.sql.files.maxPartitionBytes", _))
      prevCost.fold(conf.unset("spark.sql.files.openCostInBytes"))(
        conf.set("spark.sql.files.openCostInBytes", _))
    }
  }

  test("multimodal features = byte histogram of the payload") {
    import spark.implicits._
    val docs = Seq((7L, "aab")).toDF("doc_id", "text") // 'a'=97 -> bucket 1, 'b'=98 -> bucket 2
    val f = Multimodal.features(Multimodal.ingest(docs))
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(f === Map(1 -> 2L, 2 -> 1L))
  }

  test("modality stats: counts/bytes/duration per modality; images carry no duration") {
    import spark.implicits._
    // ids 0,3 -> image; 1,4 -> audio; 2,5 -> video (doc_id % 3)
    val docs = Seq((0L, "aaaa"), (1L, "bb"), (2L, "ccc"),
      (3L, "dd"), (4L, "eeee"), (5L, "f")).toDF("doc_id", "text")
    val st = Multimodal.modalityStats(Multimodal.ingestMixed(docs))
      .collect().map(r => r.getAs[String]("modality") ->
        (r.getAs[Long]("n_items"), r.getAs[Long]("total_bytes"),
          r.getAs[Long]("total_duration_ms"))).toMap
    assert(st("image") === ((2L, 6L, 0L)))       // 4+2 bytes, no duration
    assert(st("audio") === ((2L, 6L, 240L)))     // (2+4)·40 ms
    assert(st("video") === ((2L, 4L, 160L)))     // (3+1)·40 ms
  }

  test("modality byte budget: exclusive running sum per modality, first item always kept") {
    import spark.implicits._
    val docs = Seq((0L, "aaaa"), (3L, "dddddd"), (6L, "gg"), // images: 4, 6, 2 bytes
      (1L, "bbbbbbbbbb")).toDF("doc_id", "text")             // audio: 10 bytes
    // budget 5: each modality keeps items while bytes ALREADY taken
    // < 5 (exclusive sum — the first item per modality always keeps,
    // even the 10-byte audio blob over budget by itself)
    val out = Multimodal.budgetSample(Multimodal.ingestMixed(docs), 5L)
      .collect().map(r => (r.getAs[Long]("media_id"), r.getAs[String]("modality"),
        r.getAs[Long]("n_bytes"), r.getAs[Long]("stream_pos")))
    assert(out.exists(_._1 == 1L), "the over-budget first audio item must keep")
    val images = out.filter(_._2 == "image")
    assert(images.nonEmpty)
    // every kept image started under the budget; the md5 stream order
    // is deterministic, so kept bytes-before are always < 5
    assert(images.forall(_._4 < 5L))
    // total kept image bytes can overshoot by at most the last item,
    // never by a whole extra item beyond it
    val keptBytes = images.map(_._3).sum
    assert(keptBytes >= 5L || images.size == 3,
      "the sample stops only once the budget is consumed (or items run out)")
  }

  test("modality byte budget: split-merge prefix sum ≡ the sequential fill") {
    import spark.implicits._
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("media_id"), r.getAs[String]("modality"),
        r.getAs[Long]("n_bytes"), r.getAs[Long]("stream_pos"))).sortBy(_._1)
    // fixture with over- and under-budget boundary items across the
    // md5 order (ids chosen so buckets split within a modality at
    // prefixLen=1), plus zero-byte items (empty text) — the exact
    // rows where an off-by-one in the two-level sum would show
    val docs = (0L to 40L).map(i =>
      (i, if (i % 7 == 0) "" else "x" * (i % 11).toInt)).toDF("doc_id", "text")
    val media = Multimodal.ingestMixed(docs)
    for (budget <- Seq(1L, 5L, 23L, 1000L); pl <- Seq(1, 2, 4))
      assert(canon(Multimodal.budgetSample(media, budget, prefixLen = pl)) ===
        canon(Multimodal.budgetSampleSeq(media, budget)),
        s"budget=$budget prefixLen=$pl")
    // and on the real corpus at the gate's budget
    val corpus = Multimodal.ingestMixed(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(canon(Multimodal.budgetSample(corpus, 4000L)) ===
      canon(Multimodal.budgetSampleSeq(corpus, 4000L)))
  }

  test("streaming windowAgg over a file source matches the batch twin") {
    val dir = tempDir("stream-in").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("ts", "event_type", "value")
    ev.write.mode("overwrite").parquet(dir)
    val batch = StreamOps.windowAggBatch(
        spark.read.parquet(dir).withColumn("user_id", lit(0L)), "1 hour")
      .drop("v_sum") // float-order differences don't matter for the count check
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val agg = stream.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("w"), col("event_type"), col("n"))
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("winagg").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select * from winagg").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming OHLC bars match the batch twin exactly (associative endpoints)") {
    val dir = tempDir("ohlc-in").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("ts", "user_id", "event_id", "value")
    ev.write.mode("overwrite").parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("window_start_us"),
        r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"),
        r.getAs[Long]("n_events"))).sorted.toSeq
    val batch = rows(StreamOps.ohlcStreamBatch(spark.read.parquet(dir), "1 hour"))
    val src = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = StreamOps.ohlcStream(src, "1 hour", "1 hour")
      .writeStream.outputMode("complete").format("memory").queryName("ohlcbars").start()
    try {
      q.processAllAvailable()
      // endpoint associativity is the claim: bars assembled from
      // micro-batch partials equal the batch bars BIT-FOR-BIT
      // (open/close carried in the ordered struct, never a per-batch
      // first()/last())
      assert(rows(spark.sql("select * from ohlcbars")) === batch)
    } finally q.stop()
  }

  test("streaming HLL registers match the batch twin; flat m-row state per day") {
    val dir = tempDir("hll-in").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("ts", "user_id")
    ev.write.mode("overwrite").parquet(dir)
    val batch = graft.streaming.StreamOps.hllRegisterStreamBatch(
        spark.read.parquet(dir)).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getInt(2)).toMap
    val src = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = graft.streaming.StreamOps.hllRegisterStream(src, "1 day")
      .writeStream.outputMode("complete").format("memory").queryName("hllreg").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select * from hllreg").collect()
        .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getInt(2)).toMap
      assert(got === batch)
      // the scale contract: state per day is at most m = 64 registers,
      // regardless of how many users the day saw
      got.keys.groupBy(_._1).foreach { case (_, ks) => assert(ks.size <= 64) }
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup drops exact repeats within the watermark") {
    import spark.implicits._
    val dir = tempDir("dedup-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(offsetMin: Long) = new java.sql.Timestamp(base.getTime + offsetMin * 60000L)
    val rows = Seq(
      (1L, ts(0), "the quick fox"), (2L, ts(1), "the quick fox"), // dup content
      (3L, ts(2), "something else"))
    rows.toDF("doc_id", "ts", "text").write.mode("overwrite").parquet(dir)
    val src = spark.readStream
      .schema(rows.toDF("doc_id", "ts", "text").schema).parquet(dir)
    val q = StreamOps.dedupStream(src.withColumn("h", md5(col("text"))), "1 hour", Seq("h"))
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      q.processAllAvailable()
      val texts = spark.sql("select text from dedup").collect().map(_.getString(0)).sorted
      assert(texts.toSeq === Seq("something else", "the quick fox"))
    } finally q.stop()
  }

  test("csv and json roundtrip with explicit schema; day-partitioned lake prunes") {
    import graft.sources.Formats
    val df = daily
    val csvDir = tempDir("fmt-csv").toString
    Formats.writeCsv(df, csvDir)
    val backCsv = Formats.readCsv(spark, csvDir, df.schema)
    assert(backCsv.count() === 20)
    // file sources surface every column nullable; compare names+types
    assert(backCsv.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    val jsonDir = tempDir("fmt-json").toString
    Formats.writeJson(df, jsonDir)
    assert(Formats.readJson(spark, jsonDir, df.schema).agg(sum("v")).collect()
      .head.getDouble(0) === (1 to 20).sum.toDouble)
    val lakeDir = tempDir("fmt-lake").toString
    Formats.writeDayPartitioned(df, lakeDir)
    val lake = Formats.readDayPartitioned(spark, lakeDir)
    val oneDay = lake.where(col("day") === lit("2024-01-03").cast("date"))
    assert(oneDay.count() === 1)
    // partition pruning: only the matching day directory is read
    assert(oneDay.select(input_file_name()).distinct().count() === 1)
    assert(lake.count() === 20)
  }

  test("bucketed tables join without any exchange (co-located join layout)") {
    import graft.sources.Formats
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    Formats.writeBucketed(ev.select("user_id", "event_id", "value"), "graft_bkt_a", "user_id", 4)
    Formats.writeBucketed(
      ev.groupBy("user_id").agg(count(lit(1)).as("n")), "graft_bkt_b", "user_id", 4)
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "user_id")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // the whole point of bucketing: bucket-pairing replaces the
      // shuffle — a 100-TB join with ZERO Exchange on either side
      assert(!plan.contains("Exchange"), s"bucketed join must not exchange:\n$plan")
      assert(joined.count() === ev.count()) // every event row matched its user's agg row
    } finally {
      prev.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }

  test("stored band index: probe joins with zero Exchange on the stored side") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    Dedup.writeBandIndex(docs.where(col("doc_id") % 2 === 0), 16, 2, "graft_xidx_t", 4)
    val conf = spark.conf
    val prevBc = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false") // static plan → inspectable join sides
    try {
      // equivalence: stored-index probe == recompute-both-sides crossDup
      val stored = Dedup.crossDupAgainstIndex(
          docs.where(col("doc_id") % 2 === 1), "graft_xidx_t", 16, 2, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      val fresh = Dedup.crossDup(docs.where(col("doc_id") % 2 === 1),
          docs.where(col("doc_id") % 2 === 0), 16, 2, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(stored === fresh)
      // probing or appending with MISMATCHED banding parameters is a
      // named error, never silently-deflated estimates (review r9)
      val e1 = intercept[IllegalArgumentException](
        Dedup.crossDupAgainstIndex(docs.where(col("doc_id") % 2 === 1),
          "graft_xidx_t", 32, 2, 0.5).collect())
      assert(e1.getMessage.contains("mismatched banding"))
      val e2 = intercept[IllegalArgumentException](
        Dedup.appendBandIndex(docs.where(col("doc_id") % 2 === 1),
          16, 4, "graft_xidx_t", 4))
      assert(e2.getMessage.contains("mismatched banding"))
      // plan shape: the band join's STORED side reads the bucketed scan
      // directly — no Exchange between scan and join; the crawl side is
      // the one that shuffles to match the bucketing. (The operator's
      // own candidate join is checkpointed away in its final plan, so
      // drive the identical join here from its public pieces.)
      val full = Dedup.bandRows(docs.where(col("doc_id") % 2 === 1), 16, 2)
        .select(col("doc_id").as("doc_a"), col("band"), col("sig"))
        .join(spark.table("graft_xidx_t_bands")
          .select(col("doc_id").as("doc_b"), col("band"), col("sig")),
          Seq("band", "sig"))
      full.collect()
      val plan = full.queryExecution.executedPlan
      def findJoins(p: SparkPlan): Seq[SparkPlan] = p.collect {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      val bandJoin = findJoins(plan).find { j =>
        val (l, r) = j match {
          case s: SortMergeJoinExec => (s.left, s.right)
          case s: ShuffledHashJoinExec => (s.left, s.right)
        }
        Seq(l, r).exists(_.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.tableIdentifier.exists(_.table == "graft_xidx_t_bands") => f
        }.nonEmpty)
      }.getOrElse(fail("no join over the stored bands table in the plan"))
      val (lhs, rhs) = bandJoin match {
        case s: SortMergeJoinExec => (s.left, s.right)
        case s: ShuffledHashJoinExec => (s.left, s.right)
      }
      val storedSide = Seq(lhs, rhs).find(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table == "graft_xidx_t_bands") => f
      }.nonEmpty).get
      val crawlSide = if (storedSide eq lhs) rhs else lhs
      assert(storedSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"stored side must not exchange:\n$storedSide")
      assert(crawlSide.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
        "the crawl side is the one expected to shuffle into the bucket layout")
    } finally {
      prevBc.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      prevAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(
        conf.set("spark.sql.adaptive.enabled", _))
      spark.sql("DROP TABLE IF EXISTS graft_xidx_t_bands")
      spark.sql("DROP TABLE IF EXISTS graft_xidx_t_sigs")
      spark.sql("DROP TABLE IF EXISTS graft_xidx_t_meta")
    }
  }

  test("streaming anomaly flags exactly the profile outliers at ingest") {
    import spark.implicits._
    val dir = tempDir("anom-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val history = Seq(
      (1L, "m", 9.0), (1L, "m", 10.0), (1L, "m", 11.0),
      (2L, "m", 5.0), (2L, "m", 5.0)) // constant sigma: group excluded
      .toDF("user_id", "event_type", "value")
    val profile = StreamOps.anomalyProfile(history)
    val streamRows = Seq(
      (10L, 1L, "m", ts(0), 10.0),   // dead normal
      (11L, 1L, "m", ts(1), 100.0),  // massive spike
      (12L, 2L, "m", ts(2), 99.0))   // spike, but sigma-0 group
    streamRows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(
      streamRows.toDF("event_id", "user_id", "event_type", "ts", "value").schema)
      .parquet(dir)
    val q = StreamOps.anomalyStream(src, profile, 3.0, "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("anom").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select event_id, zscore from anom").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.map(_._1).toSeq === Seq(11L))
      assert(got.head._2 > 100.0) // (100-10)/0.817 ≈ 110
    } finally q.stop()
  }

  test("streaming funnel state machine emits each completed ladder exactly once") {
    import spark.implicits._
    val dir = tempDir("funnel-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    // batch 1: user 1 completes the full ladder; user 2 reaches click;
    // user 3 purchases BEFORE clicking (must not advance)
    val b1 = Seq(
      (1L, "signup", ts(0)), (1L, "click", ts(1)), (1L, "purchase", ts(2)),
      (2L, "signup", ts(0)), (2L, "click", ts(3)),
      (3L, "signup", ts(0)), (3L, "purchase", ts(1)))
    // batch 2: user 2 completes; user 3 clicks then purchases (now in
    // order); user 1 purchases AGAIN — must NOT re-emit
    val b2 = Seq(
      (2L, "purchase", ts(10)),
      (3L, "click", ts(11)), (3L, "purchase", ts(12)),
      (1L, "purchase", ts(13)))
    def write(rows: Seq[(Long, String, java.sql.Timestamp)]) =
      rows.toDF("user_id", "event_type", "ts").coalesce(1)
        .write.mode("append").parquet(dir)
    write(b1)
    val schema = b1.toDF("user_id", "event_type", "ts").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.funnelStream(src, Seq("signup", "click", "purchase"), "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("funl").start()
    try {
      q.processAllAvailable()
      write(b2)
      q.processAllAvailable()
      val got = spark.sql("select * from funl").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // exactly one emission per completed user, with the FIRST times
      def us(min: Long) = (base.getTime + min * 60000L) * 1000L
      assert(got.sortBy(_._1).toSeq === Seq(
        (1L, us(0), us(1), us(2)),
        (2L, us(0), us(3), us(10)),
        (3L, us(0), us(11), us(12))))
      // and the emitted set equals the batch twin on the full replay
      val twin = StreamOps.funnelStreamBatch(
          spark.read.parquet(dir), Seq("signup", "click", "purchase"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got.toSet === twin)
    } finally q.stop()
  }

  test("streaming attribution credits across micro-batch boundaries; window expires") {
    import spark.implicits._
    val dir = tempDir("attr-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(h: Long) = new java.sql.Timestamp(base.getTime + h * 3600000L)
    // batch 1: user 1 view@0 then purchase@1 (-> view); user 2 click@0
    val b1 = Seq(
      (1L, 1L, "view", ts(0), 0.0), (2L, 1L, "purchase", ts(1), 10.0),
      (3L, 2L, "click", ts(0), 0.0))
    // batch 2: user 2 purchases at h=2 — the CREDIT crosses the batch
    // boundary (state carries the click); user 1 purchases at h=30,
    // 29h after its view -> window expired -> direct
    val b2 = Seq(
      (4L, 2L, "purchase", ts(2), 20.0),
      (5L, 1L, "purchase", ts(30), 30.0))
    def write(rows: Seq[(Long, Long, String, java.sql.Timestamp, Double)]) =
      rows.toDF("event_id", "user_id", "event_type", "ts", "value").coalesce(1)
        .write.mode("append").parquet(dir)
    write(b1)
    val schema = b1.toDF("event_id", "user_id", "event_type", "ts", "value").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.attributionStream(src, "1 hour", 86400000000L)
      .writeStream.outputMode("append").format("memory").queryName("attr").start()
    try {
      q.processAllAvailable()
      write(b2)
      q.processAllAvailable()
      val got = spark.sql("select user_id, event_id, channel, value from attr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      assert(got === Set(
        (1L, 2L, "view", 10.0),
        (2L, 4L, "click", 20.0),  // cross-batch credit
        (1L, 5L, "direct", 30.0)))
      // emissions equal the gated batch twin on the full replay
      val twin = StreamOps.attributionStreamBatch(spark.read.parquet(dir), 86400000000L)
        .select("user_id", "event_id", "channel", "value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      assert(got === twin)
    } finally q.stop()
  }

  test("streaming transitions emit each hop once, across micro-batch boundaries") {
    import spark.implicits._
    val dir = tempDir("trans-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    // batch 1: user 1 a→b→a, user 2 first event only (no hop yet)
    val b1 = Seq(
      (10L, 1L, "a", ts(0)), (11L, 1L, "b", ts(1)), (12L, 1L, "a", ts(2)),
      (20L, 2L, "x", ts(0)))
    // batch 2: user 1 continues a→c (the hop CROSSES the batch
    // boundary — state carries the last type); user 2 hops x→y
    val b2 = Seq((13L, 1L, "c", ts(10)), (21L, 2L, "y", ts(11)))
    def write(rows: Seq[(Long, Long, String, java.sql.Timestamp)]) =
      rows.toDF("event_id", "user_id", "event_type", "ts").coalesce(1)
        .write.mode("append").parquet(dir)
    write(b1)
    val schema = b1.toDF("event_id", "user_id", "event_type", "ts").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.transitionsStream(src, "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("trans").start()
    try {
      q.processAllAvailable()
      write(b2)
      q.processAllAvailable()
      val got = spark.sql("select * from trans").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)))
      def us(min: Long) = (base.getTime + min * 60000L) * 1000L
      assert(got.sortBy(_._2).toSeq === Seq(
        (1L, 11L, "a", "b", us(1)),
        (1L, 12L, "b", "a", us(2)),
        (1L, 13L, "a", "c", us(10)),   // cross-batch hop
        (2L, 21L, "x", "y", us(11))))
      // the emitted set equals the batch twin on the full replay
      val twin = StreamOps.transitionsStreamBatch(spark.read.parquet(dir))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSet
      assert(got.toSet === twin)
    } finally q.stop()
  }

  test("streaming rate limiter: burst absorbed to capacity, refill across micro-batches") {
    import spark.implicits._
    val dir = tempDir("rl-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000L)
    // capacity 2, refill 1 token / 10s. batch 1: a burst of 4 events in
    // 2s — the first two spend the full bucket, the next two reject
    // (refill in 1s = 0.1 tokens). batch 2 arrives 30s later: bucket
    // refilled past capacity (clamped to 2) → two accepts, then reject.
    val b1 = Seq(
      (1L, 1L, ts(0)), (2L, 1L, ts(1)), (3L, 1L, ts(1)), (4L, 1L, ts(2)))
    val b2 = Seq(
      (5L, 1L, ts(32)), (6L, 1L, ts(33)), (7L, 1L, ts(33)))
    def write(rows: Seq[(Long, Long, java.sql.Timestamp)]) =
      rows.toDF("event_id", "user_id", "ts").coalesce(1)
        .write.mode("append").parquet(dir)
    write(b1)
    val schema = b1.toDF("event_id", "user_id", "ts").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.rateLimitStream(src, 2.0, 10000000L, "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("rl").start()
    try {
      q.processAllAvailable()
      write(b2)
      q.processAllAvailable()
      val got = spark.sql("select * from rl").collect()
        .map(r => (r.getLong(1), r.getBoolean(3))).sortBy(_._1)
      assert(got.toSeq === Seq(
        (1L, true), (2L, true), (3L, false), (4L, false),
        (5L, true), (6L, true), (7L, false)))
      // equals the batch twin on the full replay
      val twin = StreamOps.rateLimitStreamBatch(
          spark.read.parquet(dir)
            .withColumn("value", lit(0.0)).withColumn("event_type", lit("x"))
            .withColumn("props", lit("{}")),
          2.0, 10000000L)
        .collect().map(r => (r.getLong(1), r.getBoolean(3), r.getDouble(4))).toSet
      val gotFull = spark.sql("select * from rl").collect()
        .map(r => (r.getLong(1), r.getBoolean(3), r.getDouble(4))).toSet
      assert(gotFull === twin)
    } finally q.stop()
  }

  test("streaming CDC upsert emits exactly the hwm-advancing changes, across micro-batches") {
    import spark.implicits._
    val dir = tempDir("cdc-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    // arrival column = explicit permutation. batch 1 (arrival 1..3):
    // user 1 gets t=10 first, then a LATE t=5 (absorbed), then t=20
    // (emits). batch 2: a cross-batch late t=15 (absorbed — state
    // carries the t=20 mark) and a fresh t=30 (emits).
    val b1 = Seq(
      (100L, 1L, "a", ts(10), 1.0, 1L),
      (101L, 1L, "b", ts(5), 2.0, 2L),   // late: absorbed
      (102L, 1L, "c", ts(20), 3.0, 3L))
    val b2 = Seq(
      (103L, 1L, "d", ts(15), 4.0, 4L),  // cross-batch late: absorbed
      (104L, 1L, "e", ts(30), 5.0, 5L))
    def write(rows: Seq[(Long, Long, String, java.sql.Timestamp, Double, Long)]) =
      rows.toDF("event_id", "user_id", "event_type", "ts", "value", "arrival")
        .coalesce(1).write.mode("append").parquet(dir)
    write(b1)
    val schema = b1.toDF("event_id", "user_id", "event_type", "ts", "value", "arrival").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.cdcStream(src, "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("cdc").start()
    try {
      q.processAllAvailable()
      write(b2)
      q.processAllAvailable()
      val got = spark.sql("select * from cdc").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1)
      def us(min: Long) = (base.getTime + min * 60000L) * 1000L
      assert(got.toSeq === Seq(
        (100L, us(10), "a"), (102L, us(20), "c"), (104L, us(30), "e")))
      // equals the batch twin under the same arrival permutation
      val twin = StreamOps.cdcStreamBatch(spark.read.parquet(dir), col("arrival"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(got.toSet === twin)
    } finally q.stop()
  }

  test("payload packing: bins respect the budget, oversize blobs sit alone, nothing lost") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a" * 400, "s0"), (2L, "b" * 400, "s0"), (3L, "c" * 300, "s0"),
      (4L, "d" * 1500, "s0"),  // oversize: own bin
      (5L, "e" * 100, "s0"),
      (6L, "f" * 900, "s1"))
      .toDF("doc_id", "text", "source")
    val out = graft.sources.Multimodal.packPayloads(docs, 1000L)
      .orderBy("shard", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // s0 walk: 400+400 -> bin0 (800); 300 opens bin1; 1500 opens bin2
    // alone; 100 opens bin3 (1500 left bin2 over budget)
    assert(out.toSeq === Seq(
      ("s0", 0L, 2L, 800L), ("s0", 1L, 1L, 300L), ("s0", 2L, 1L, 1500L),
      ("s0", 3L, 1L, 100L), ("s1", 0L, 1L, 900L)))
    assert(out.map(_._3).sum === 6) // every blob placed exactly once
    assert(out.filter(_._4 > 1000L).forall(_._3 == 1L)) // only singletons overflow
  }

  test("stream-stream interval join attributes views to clicks across batches") {
    import spark.implicits._
    val vDir = tempDir("sj-views").toString
    val cDir = tempDir("sj-clicks").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    def us(min: Long) = (base.getTime + min * 60000L) * 1000L
    // views batch 1; the click arrives in a LATER micro-batch — the
    // join must hold view state until the click shows up
    val v1 = Seq((1L, 100L, "view", ts(0), 0.0), (1L, 101L, "view", ts(5), 0.0),
      (2L, 200L, "view", ts(0), 0.0))
    val c1 = Seq.empty[(Long, Long, String, java.sql.Timestamp, Double)]
    val c2 = Seq((1L, 300L, "click", ts(8), 0.0),   // joins views 100, 101
      (2L, 301L, "click", ts(90), 0.0))             // view 200 outside 30-min window
    def write(dir: String, rows: Seq[(Long, Long, String, java.sql.Timestamp, Double)]) =
      if (rows.nonEmpty) rows.toDF("user_id", "event_id", "event_type", "ts", "value")
        .coalesce(1).write.mode("append").parquet(dir)
    write(vDir, v1); write(cDir, c1)
    // seed the click dir so the stream has a schema-bearing file
    write(cDir, Seq((9L, 999L, "click", ts(0), 0.0)))
    val schema = v1.toDF("user_id", "event_id", "event_type", "ts", "value").schema
    def src(dir: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.intervalJoinStream(src(vDir), src(cDir), "1 hour", 1800L)
      .writeStream.outputMode("append").format("memory").queryName("sj").start()
    try {
      q.processAllAvailable()
      write(cDir, c2)
      q.processAllAvailable()
      val got = spark.sql("select click_id, view_id from sj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((300L, 100L), (300L, 101L)))
      // parity with the batch twin over the full replay
      val all = spark.read.parquet(vDir).unionByName(spark.read.parquet(cDir))
      val twin = StreamOps.intervalJoinStreamBatch(all, 1800L)
        .select("click_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === twin)
    } finally q.stop()
  }

  test("stored self-LSH: bucketed band table self-joins with zero Exchange") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    Seq("_bands", "_sigs", "_meta", "_tombstones").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS graft_selfidx_t$s"))
    Dedup.writeBandIndex(docs, 16, 2, "graft_selfidx_t", 4)
    val conf = spark.conf
    val prevBc = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val stored = Dedup.lshCandidatesStored(spark, "graft_selfidx_t")
      // both join sides are the same bucketed (band, sig) scan — the
      // self-join pairs buckets by file, NO shuffle on either side
      // (the final groupBy on (doc_a, doc_b) is the only Exchange)
      val exchanges = stored.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size <= 1,
        s"self-join must not exchange its inputs:\n${stored.queryExecution.executedPlan}")
      // parity with the recompute path
      val recomputed = Dedup.lshCandidatesFast(Dedup.minhashSigs(docs, 16), 2, 16)
        .orderBy("doc_a", "doc_b").collect().toSeq
      assert(stored.orderBy("doc_a", "doc_b").collect().toSeq === recomputed)
    } finally {
      prevBc.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      prevAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(
        conf.set("spark.sql.adaptive.enabled", _))
      Seq("_bands", "_sigs", "_meta", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS graft_selfidx_t$s"))
    }
  }

  test("bloom-prefiltered stored probe: bit-identical verdicts, crawl keys pruned") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    Seq("_bands", "_sigs", "_meta", "_tombstones").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS graft_xblm_t$s"))
    Dedup.writeBandIndex(docs.where(col("doc_id") % 2 === 0), 16, 2, "graft_xblm_t", 4)
    val crawl = docs.where(col("doc_id") % 2 === 1)
    try {
      val plain = Dedup.crossDupAgainstIndex(crawl, "graft_xblm_t", 16, 2, 0.5)
        .orderBy("doc_id").collect().toSeq
      val bloomed = Dedup.crossDupAgainstIndexBloom(crawl, "graft_xblm_t", 16, 2, 0.5)
        .orderBy("doc_id").collect().toSeq
      // no false negatives → the semi-join reduction never changes output
      assert(bloomed === plain)
      // stored-signatures probe: same verdicts from storage, bloom on or off
      spark.sql("DROP TABLE IF EXISTS graft_xblm_csig")
      Dedup.writeCrawlSigs(crawl, 16, "graft_xblm_csig", 4)
      val sigsPlain = Dedup.crossDupStoredSigs(spark, "graft_xblm_csig",
        "graft_xblm_t", 16, 2, 0.5).orderBy("doc_id").collect().toSeq
      val sigsBloom = Dedup.crossDupStoredSigs(spark, "graft_xblm_csig",
        "graft_xblm_t", 16, 2, 0.5, bloom = true).orderBy("doc_id").collect().toSeq
      assert(sigsPlain === plain)
      assert(sigsBloom === plain)
      // and it actually REDUCES: fewer crawl band rows survive the
      // prefilter than exist (a fresh crawl shares few signatures)
      graft.functions.BloomExprs.register(spark)
      Seq("_bands", "_sigs", "_meta", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS graft_xblm_c$s"))
      Dedup.writeBandIndex(crawl, 16, 2, "graft_xblm_c", 4)
      val slices = spark.table("graft_xblm_c_bands")
      val total = slices.count()
      def keyHash = "xxhash64(concat(cast(band as string), '|', cast(sig as string)))"
      val bf = spark.table("graft_xblm_t_bands")
        .select(expr(keyHash).as("h"))
        .agg(expr("graft_bloom_agg(h, 1048576L, 8388608L)").as("bf"))
        .collect().head.getAs[Array[Byte]](0)
      val kept = slices.where(
        call_function("graft_bloom_contains", lit(bf), expr(keyHash))).count()
      assert(kept < total, s"bloom should prune some of $total crawl band rows")
    } finally {
      Seq("_bands", "_sigs", "_meta", "_tombstones").foreach { s =>
        spark.sql(s"DROP TABLE IF EXISTS graft_xblm_t$s")
        spark.sql(s"DROP TABLE IF EXISTS graft_xblm_c$s")
      }
      spark.sql("DROP TABLE IF EXISTS graft_xblm_csig")
    }
  }

  test("ts feature store: window chain runs with zero Exchange, parity with recompute") {
    import graft.operators.TimeSeries
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    spark.sql("DROP TABLE IF EXISTS graft_ts_store_t")
    TimeSeries.writeDailyStore(ev, "graft_ts_store_t", 4)
    val conf = spark.conf
    val prevAqe = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false") // static plan → inspectable
    try {
      val stored = TimeSeries.lagFeaturesStored(spark, "graft_ts_store_t", Seq(1, 7), 7)
      // the bucketed scan's HashPartitioning(user_id) serves the
      // window's required distribution — NO shuffle anywhere
      assert(stored.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"stored window chain must not exchange:\n${stored.queryExecution.executedPlan}")
      // byte-parity with the recompute path
      val recomputed = TimeSeries.lagFeatures(
        TimeSeries.resampleDaily(ev), Seq(1, 7), 7)
      assert(stored.orderBy("user_id", "day").collect().toSeq ===
        recomputed.orderBy("user_id", "day").collect().toSeq)
    } finally {
      prevAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(
        conf.set("spark.sql.adaptive.enabled", _))
      spark.sql("DROP TABLE IF EXISTS graft_ts_store_t")
    }
  }

  test("band index takedown: tombstones mask immediately, compaction folds them in") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def drop(t: String) = Seq("_bands", "_sigs", "_meta", "_tombstones").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $t$s"))
    try {
      Dedup.writeBandIndex(docs.where(col("doc_id") % 2 === 0), 16, 2, "graft_xtd_t", 4)
      val crawl = docs.where(col("doc_id") % 2 === 1)
      def probe() = Dedup.crossDupAgainstIndex(crawl, "graft_xtd_t", 16, 2, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      val before = probe()
      val witnesses = before.filter(_._4 == 1).map(_._3).toSet
      assert(witnesses.nonEmpty)
      import spark.implicits._
      Dedup.deleteFromBandIndex(witnesses.toSeq.toDF("doc_id"), "graft_xtd_t")
      val masked = probe()
      // taken-down docs never appear as witnesses again
      assert(!masked.exists(r => witnesses.contains(r._3)))
      // and the masked probe equals a full recompute on the survivors
      val rebuilt = Dedup.crossDup(crawl,
          docs.where(col("doc_id") % 2 === 0 &&
            !col("doc_id").isin(witnesses.toSeq: _*)), 16, 2, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      assert(masked.toSet === rebuilt.toSet)
      val nBands = spark.table("graft_xtd_t_bands").count()
      val nSigs = spark.table("graft_xtd_t_sigs").count()
      Dedup.compactBandIndex("graft_xtd_t")
      assert(!spark.catalog.tableExists("graft_xtd_t_tombstones"))
      assert(spark.table("graft_xtd_t_sigs").count() < nSigs)
      assert(spark.table("graft_xtd_t_bands").count() < nBands)
      assert(probe().toSet === masked.toSet)
    } finally drop("graft_xtd_t")
  }

  test("batch session_window matches the lag-based sessionize operator") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val native = StreamOps.sessionWindowsBatch(ev, "30 minutes")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ours = graft.operators.Relational.sessionize(ev, 1800000000L)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("session_start_us")) -> r.getAs[Long]("n_events")).toMap
    assert(native === ours)
  }

  test("streaming decontamination flags exactly the benchmark-overlapping docs") {
    import spark.implicits._
    val dir = tempDir("decon-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(offsetMin: Long) = new java.sql.Timestamp(base.getTime + offsetMin * 60000L)
    val rows = Seq(
      (1L, ts(0), "alpha beta gamma delta"),   // shares "alpha beta gamma"
      (2L, ts(1), "iota kappa lambda mu"),     // disjoint
      (3L, ts(2), "zeta alpha beta gamma"))    // shares the same 3-gram
    rows.toDF("doc_id", "ts", "text").write.mode("overwrite").parquet(dir)
    val bench = Seq((0L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val src = spark.readStream
      .schema(rows.toDF("doc_id", "ts", "text").schema).parquet(dir)
    val q = StreamOps.decontaminateStream(src, bench, 3, "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("decon").start()
    try {
      q.processAllAvailable()
      val flagged = spark.sql("select doc_id from decon").collect().map(_.getLong(0)).sorted
      assert(flagged.toSeq === Seq(1L, 3L))
      // the batch twin agrees doc-for-doc, and pins each doc's FIRST
      // event time as the canonical emission
      val twin = StreamOps.decontaminateStreamBatch(
          rows.toDF("doc_id", "ts", "text"), bench, 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(twin.keySet === Set(1L, 3L))
      assert(twin(1L) === base.getTime * 1000L)
      assert(twin(3L) === (base.getTime + 2 * 60000L) * 1000L)
    } finally q.stop()
  }

  test("streaming crossDup probe flags exactly the stored-index near-dups") {
    import spark.implicits._
    import graft.operators.Dedup
    val dir = tempDir("xdup-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(offsetMin: Long) = new java.sql.Timestamp(base.getTime + offsetMin * 60000L)
    // reference = docs 100/102; stream doc 1 is a near-copy of 100,
    // doc 3 shares nothing, doc 5 is an exact copy of 102
    val ref = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (102L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    Dedup.writeBandIndex(ref, 16, 2, "graft_xstr_t", 2)
    val rows = Seq(
      (1L, ts(0), "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, ts(1), "nothing shared here at all with anything stored"),
      (5L, ts(2), "one two three four five six seven eight"))
    rows.toDF("doc_id", "ts", "text").write.mode("overwrite").parquet(dir)
    val src = spark.readStream
      .schema(rows.toDF("doc_id", "ts", "text").schema).parquet(dir)
    val q = StreamOps.crossDupStream(src, "graft_xstr_t", 16, 2, 0.5, "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("xdup").start()
    try {
      q.processAllAvailable()
      val flagged = spark.sql("select doc_id from xdup").collect().map(_.getLong(0)).sorted
      assert(flagged.toSeq === Seq(1L, 5L))
      // batch twin agrees and pins the event time
      val twin = StreamOps.crossDupStreamBatch(
          rows.toDF("doc_id", "ts", "text"), "graft_xstr_t", 16, 2, 0.5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(twin.keySet === Set(1L, 5L))
      assert(twin(5L) === (base.getTime + 2 * 60000L) * 1000L)
      // and equals the recompute path on the same inputs
      val fresh = Dedup.crossDup(rows.toDF("doc_id", "ts", "text").drop("ts"), ref, 16, 2, 0.5)
        .where(col("flagged") === 1).collect().map(_.getLong(0)).toSet
      assert(fresh === Set(1L, 5L))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_xstr_t_bands")
      spark.sql("DROP TABLE IF EXISTS graft_xstr_t_sigs")
      spark.sql("DROP TABLE IF EXISTS graft_xstr_t_meta")
    }
  }

  test("streaming substring probe flags window-sharing docs across a micro-batch boundary; takedown masks at plan time") {
    import spark.implicits._
    import graft.operators.Dedup
    val dir = tempDir("substr-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(offsetMin: Long) = new java.sql.Timestamp(base.getTime + offsetMin * 60000L)
    // reference docs: 100 carries the shared block, 102 a different one
    val blockA = (0 until 4).map(i => s"a$i").mkString(" ")
    val blockB = (0 until 4).map(i => s"b$i").mkString(" ")
    val ref = Seq(
      (100L, s"r0 $blockA r1"),
      (102L, s"r2 $blockB r3")).toDF("doc_id", "text")
    Dedup.writeSubstringIndex(ref, 4, "graft_subidx_st", 2)
    val schema = Seq((0L, ts(0), "x")).toDF("doc_id", "ts", "text").schema
    // batch 1: doc 1 carries blockA (flags), doc 3 shares nothing
    Seq((1L, ts(0), s"p0 $blockA p1"),
        (3L, ts(1), "nothing shared here with anything stored"))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(dir)
    val src = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.substrDupStream(src, "graft_subidx_st", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("substr").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select doc_id from substr").collect().map(_.getLong(0)).sorted.toSeq
        === Seq(1L))
      // micro-batch 2: a later file — doc 5 carries blockB (flags),
      // doc 7 carries a PARTIAL 3-token slice of blockA (no 4-window,
      // stays silent); the stream-static probe keeps serving
      Seq((5L, ts(2), s"p2 $blockB p3"),
          (7L, ts(3), "q0 a0 a1 a2 q1"))
        .toDF("doc_id", "ts", "text").write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.sql("select doc_id from substr").collect().map(_.getLong(0)).sorted.toSeq
        === Seq(1L, 5L))
      // batch twin agrees doc-for-doc and pins each FIRST event time
      val all = Seq(
        (1L, ts(0), s"p0 $blockA p1"),
        (3L, ts(1), "nothing shared here with anything stored"),
        (5L, ts(2), s"p2 $blockB p3"),
        (7L, ts(3), "q0 a0 a1 a2 q1")).toDF("doc_id", "ts", "text")
      val twin = StreamOps.substrDupStreamBatch(all, "graft_subidx_st")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(twin.keySet === Set(1L, 5L))
      assert(twin(1L) === base.getTime * 1000L)
      assert(twin(5L) === (base.getTime + 2 * 60000L) * 1000L)
      // takedown of doc 102 (blockB's only witness): a stream planned
      // AFTER the tombstone honors the mask — blockB stops flagging,
      // blockA (doc 100 survives) still flags
      Dedup.deleteFromSubstringIndex(
        Seq((102L, s"r2 $blockB r3")).toDF("doc_id", "text"), "graft_subidx_st")
      val twinAfter = StreamOps.substrDupStreamBatch(all, "graft_subidx_st")
        .collect().map(_.getLong(0)).toSet
      assert(twinAfter === Set(1L))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_subidx_st_grams")
      spark.sql("DROP TABLE IF EXISTS graft_subidx_st_smeta")
      spark.sql("DROP TABLE IF EXISTS graft_subidx_st_sdocs")
      spark.sql("DROP TABLE IF EXISTS graft_subidx_st_stombstones")
    }
  }

  test("substrDupStream tombstone contract: filings before the (re)start always mask; a RESTART resolves every mid-flight filing (the guaranteed liveness boundary)") {
    import spark.implicits._
    import graft.operators.Dedup
    val dir = tempDir("substr-live").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(offsetMin: Long) = new java.sql.Timestamp(base.getTime + offsetMin * 60000L)
    val blockA = (0 until 4).map(i => s"a$i").mkString(" ")
    val blockB = (0 until 4).map(i => s"b$i").mkString(" ")
    val ref = Seq(
      (100L, s"r0 $blockA r1"),
      (102L, s"r2 $blockB r3")).toDF("doc_id", "text")
    Dedup.writeSubstringIndex(ref, 4, "graft_subidx_live", 2)
    // a filing made BEFORE the stream is planned always masks
    Dedup.deleteFromSubstringIndex(
      Seq((102L, s"r2 $blockB r3")).toDF("doc_id", "text"), "graft_subidx_live")
    val schema = Seq((0L, ts(0), "x")).toDF("doc_id", "ts", "text").schema
    Seq((1L, ts(0), s"p0 $blockA p1"),
        (3L, ts(1), s"p2 $blockB p3"))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(dir)
    val q = StreamOps.substrDupStream(
        spark.readStream.schema(schema).parquet(dir), "graft_subidx_live", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("substr_live").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select doc_id from substr_live").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L),
        "a pre-plan filing must mask from batch one")
      // a takedown lands BETWEEN micro-batches (doc 100 — blockA's
      // only witness); more documents stream in. Whether the RUNNING
      // plan sees the new tombstone generation is a listing-cache
      // accident (measured: first post-plan filing sometimes lands,
      // later ones do not, refreshTable does not change it) — the
      // operator's documented contract deliberately promises nothing
      // here, so this test asserts nothing mid-flight...
      Dedup.deleteFromSubstringIndex(
        Seq((100L, s"r0 $blockA r1")).toDF("doc_id", "text"), "graft_subidx_live")
      Seq((5L, ts(2), s"p4 $blockA p5"))
        .toDF("doc_id", "ts", "text").write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    // ...and pins the GUARANTEED boundary instead: a (re)start
    // resolves every filing made so far — the fresh plan re-reads the
    // source from scratch and nothing flags (both witnesses are gone)
    val q2 = StreamOps.substrDupStream(
        spark.readStream.schema(schema).parquet(dir), "graft_subidx_live", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("substr_live2").start()
    try {
      q2.processAllAvailable()
      assert(spark.sql("select doc_id from substr_live2").count() === 0L,
        "a restarted stream must honor every tombstone filed before the restart")
      // the at-cadence alternative re-resolves per CALL: the batch
      // twin masks both filings without any restart dance
      val all = Seq(
        (1L, ts(0), s"p0 $blockA p1"),
        (3L, ts(1), s"p2 $blockB p3"),
        (5L, ts(2), s"p4 $blockA p5")).toDF("doc_id", "ts", "text")
      assert(StreamOps.substrDupStreamBatch(all, "graft_subidx_live").count() === 0L)
    } finally {
      q2.stop()
      for (t <- Seq("grams", "smeta", "sdocs", "stombstones"))
        spark.sql(s"DROP TABLE IF EXISTS graft_subidx_live_$t")
    }
  }

  test("streaming semantic dedup flags exactly the stored-index near-copies") {
    import spark.implicits._
    import graft.operators.Similarity
    val dir = tempDir("semdedup-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(offsetMin: Long) = new java.sql.Timestamp(base.getTime + offsetMin * 60000L)
    // reference corpus: 20 deterministic unit-ish vectors (vec_ids
    // 0..19; the first 16 seed the coarse quantizer + PQ codebook)
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val refVecs = (0L until 20L).map(i => (i, vec()))
    Similarity.writeAnnIndex(refVecs.toDF("vec_id", "embedding"), 16, 16, 4,
      "graft_semidx_t", 2)
    // stream: 100 = exact copy of ref 17, 101 = fresh direction,
    // 102 = near-copy of ref 18 (tiny perturbation)
    val near18 = refVecs(18)._2.map(x => x + 0.01f)
    val rows = Seq(
      (100L, ts(0), refVecs(17)._2),
      (101L, ts(1), vec()),
      (102L, ts(2), near18))
    rows.toDF("vec_id", "ts", "embedding").write.mode("overwrite").parquet(dir)
    val src = spark.readStream
      .schema(rows.toDF("vec_id", "ts", "embedding").schema).parquet(dir)
    val q = StreamOps.semanticDedupStream(src, "graft_semidx_t", 0.9, "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("semdedup").start()
    try {
      q.processAllAvailable()
      val flagged = spark.sql("select vec_id from semdedup").collect()
        .map(_.getLong(0)).sorted
      assert(flagged.toSeq === Seq(100L, 102L))
      // batch twin agrees vector-for-vector and pins the event time
      val twin = StreamOps.semanticDedupStreamBatch(
          rows.toDF("vec_id", "ts", "embedding"), "graft_semidx_t", 0.9)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(twin.keySet === Set(100L, 102L))
      assert(twin(100L) === base.getTime * 1000L)
      assert(twin(102L) === (base.getTime + 2 * 60000L) * 1000L)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_semidx_t_codes")
      spark.sql("DROP TABLE IF EXISTS graft_semidx_t_meta")
    }
  }

  test("streaming session_window emits closed sessions after watermark advances") {
    import spark.implicits._
    val dir = tempDir("sess-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(offsetMin: Long) = new java.sql.Timestamp(base.getTime + offsetMin * 60000L)
    val schema = Seq((1L, ts(0), 1.0)).toDF("user_id", "ts", "value").schema
    Seq((1L, ts(0), 1.0), (1L, ts(5), 2.0), (2L, ts(1), 5.0))
      .toDF("user_id", "ts", "value").write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.sessionWindows(src, "10 minutes", "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    try {
      q.processAllAvailable()
      // second batch far in the future pushes the watermark past batch 1's sessions
      Seq((3L, ts(10000), 9.0)).toDF("user_id", "ts", "value")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.sql("select user_id, n_events, sum_value from sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === Set((1L, 2L, 3.0), (2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming BM25 triage scores arrivals under PINNED index stats across micro-batches") {
    import spark.implicits._
    import graft.operators.TextOps
    val dir = tempDir("bm25-in").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Long) = new java.sql.Timestamp(base.getTime + m * 60000L)
    // indexed corpus: N = 2, avgdl = 2, df(rare) = 1 — the fixture
    // the TextIndexSpec delta test hand-computes against
    TextOps.writeTextIndex(
      Seq((100L, "rare common"), (101L, "common common")).toDF("doc_id", "text"),
      "graft_bm25idx_st", 2)
    val schema = Seq((0L, ts(0), "x")).toDF("doc_id", "ts", "text").schema
    // batch 1: doc 1 matches "rare" (score ≈ 0.953 ≥ 0.5), doc 2 no hit
    Seq((1L, ts(0), "rare rare"), (2L, ts(1), "nothing here"))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(dir)
    val src = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.bm25TriageStream(src, "graft_bm25idx_st", Seq("rare"), 0.5)
      .writeStream.outputMode("append").format("memory").queryName("triage").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select doc_id from triage").collect().map(_.getLong(0)).toSeq
        === Seq(1L))
      // batch 2 lands later — the stats stay PINNED (same score for
      // the same text), zero state carried between batches
      Seq((5L, ts(10), "rare rare"), (6L, ts(11), "common"))
        .toDF("doc_id", "ts", "text").write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.sql("select doc_id, score from triage").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet === Set(1L, 5L))
      assert(got(1L) === got(5L), "pinned stats: identical text, identical score")
      assert(got(1L) === 0.953)
      // the batch twin agrees on the same rows
      val twin = StreamOps.bm25TriageStreamBatch(
          Seq((1L, ts(0), "rare rare"), (2L, ts(1), "nothing here"),
            (5L, ts(10), "rare rare"), (6L, ts(11), "common"))
            .toDF("doc_id", "ts", "text"),
          "graft_bm25idx_st", Seq("rare"), 0.5)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
      assert(twin === got)
    } finally {
      q.stop()
      for (t <- Seq("postings", "dlens", "tmeta"))
        spark.sql(s"DROP TABLE IF EXISTS graft_bm25idx_st_$t")
    }
  }
}
