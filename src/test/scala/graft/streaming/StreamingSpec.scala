package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends AnyFunSuite {

  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("streaming windowed HLL agg matches the batch equivalent") {
    val srcDir = graft.SparkTestBase.tempDir("graft_stream").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // stream the same data in 3 file chunks
    events.repartition(3).write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)

    val agg = StreamingSketch.windowedHll(stream, "ts", "event_type", "user_id",
      windowLen = "1 day", watermark = "0 seconds")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName("win_hll")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT * FROM win_hll").collect()
      .map(r => (r.getAs[Any]("win_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("est_entities"), r.getAs[Long]("n")))
      .sortBy(_.toString)

    val batch = graft.functions.GraftFunctions.hll_est _
    import graft.functions.GraftFunctions.{hll_build, xxh3_64, hll_est}
    val expected = events
      .withColumn("ts", $"ts".cast("timestamp"))
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(hll_build(xxh3_64($"user_id".cast("string"))).as("hll"), count(lit(1)).as("n"))
      .select($"window.start".as("win_start"), $"event_type",
        hll_est($"hll").as("est_entities"), $"n")
      .collect()
      .map(r => (r.getAs[Any]("win_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("est_entities"), r.getAs[Long]("n")))
      .sortBy(_.toString)

    assert(streamed.nonEmpty)
    assert(streamed === expected)
  }

  test("streaming windowed quantile + CMS sketches: CMS bytes == batch; quantiles in bound") {
    val srcDir = graft.SparkTestBase.tempDir("graft_stream_q").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .filter($"ts".isNotNull && $"event_type".isNotNull && $"value".isNotNull)
    events.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)

    import graft.functions.GraftFunctions._
    // quantile sketches per (day, event_type)
    val q1 = StreamingSketch.windowedQuantiles(stream, "ts", "event_type", "value",
        windowLen = "1 day", watermark = "0 seconds")
      .writeStream.outputMode("complete").format("memory").queryName("win_q")
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(120000)
    val streamedQ = spark.sql("SELECT * FROM win_q")
      .select($"win_start".cast("string").as("w"), $"event_type",
        kll_quantile($"kll", lit(0.5)).as("kll_med"),
        tdigest_quantile($"tdigest", lit(0.5)).as("td_med"), $"n")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    // batch truth: the full sorted value set per (day, type). Quantile
    // sketches guarantee RANK error (KLL eps ~1.33% at k=200; t-digest
    // tightest at the median), so the honest check is the TRUE RANK of
    // each streamed median, never a value-distance bound (on skewed data a
    // tiny rank error can be a large value gap).
    val exact = events.withColumn("ts", $"ts".cast("timestamp"))
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(sort_array(collect_list($"value")).as("vals"))
      .select($"window.start".cast("string").as("w"), $"event_type", $"vals")
      .collect()
    assert(exact.nonEmpty && streamedQ.size === exact.length)
    for (r <- exact) {
      val vals = r.getSeq[Double](2)
      val (kllMed, tdMed, n) = streamedQ((r.getString(0), r.getString(1)))
      assert(n === vals.length.toLong)
      for ((name, m) <- Seq("kll" -> kllMed, "tdigest" -> tdMed)) {
        assert(m >= vals.head && m <= vals.last, s"$name median outside range")
        val rank = vals.count(_ <= m).toDouble / vals.length
        // eps (sketch rank error) + 1/n (small-window discretization: on
        // n=3 even the exact middle element has count(<=)/n rank 2/3)
        assert(math.abs(rank - 0.5) <= 0.06 + 1.0 / vals.length,
          s"$name median $m has true rank $rank in n=${vals.length} " +
            s"(${r.getString(1)} @ ${r.getString(0)})")
      }
    }

    // CMS: counter-wise-sum merge => streamed bytes BIT-IDENTICAL to batch
    val q2 = StreamingSketch.windowedCms(stream, "ts", "event_type",
        windowLen = "1 day", watermark = "0 seconds")
      .writeStream.outputMode("complete").format("memory").queryName("win_cms")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val streamedCms = spark.sql("SELECT * FROM win_cms")
      .collect().map(r => r.getAs[Any]("win_start").toString ->
        r.getAs[Array[Byte]]("cms").toSeq).toMap
    val batchCms = events.withColumn("ts", $"ts".cast("timestamp"))
      .groupBy(window($"ts", "1 day"))
      .agg(cms_build(xxh3_64($"event_type".cast("string")), lit(1L)).as("cms"))
      .select($"window.start".as("win_start"), $"cms")
      .collect().map(r => r.getAs[Any]("win_start").toString ->
        r.getAs[Array[Byte]]("cms").toSeq).toMap
    assert(streamedCms.nonEmpty && streamedCms.keySet === batchCms.keySet)
    for ((w, bytes) <- streamedCms)
      assert(bytes === batchCms(w), s"CMS bytes must not depend on arrival order ($w)")
    // and the per-window sketch answers exact per-key counts (CMS
    // overestimates only; on 5 keys vs a 2048-wide sketch, collisions are
    // absent and the estimate is exact)
    val exactCounts = events.withColumn("ts", $"ts".cast("timestamp"))
      .groupBy(window($"ts", "1 day"), $"event_type").count()
      .select($"window.start".cast("string").as("w"), $"event_type", $"count")
      .collect()
    val cmsDf = spark.sql("SELECT * FROM win_cms")
      .select($"win_start".cast("string").as("w"), $"cms")
    val probed = cmsDf.as("c").join(
        exactCounts.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .toDF("w", "event_type", "exact").as("e"), Seq("w"))
      .select($"w", $"event_type", $"exact",
        cms_est($"cms", xxh3_64($"event_type".cast("string"))).as("est"))
      .collect()
    assert(probed.nonEmpty)
    probed.foreach(r => assert(r.getAs[Long]("est") === r.getAs[Long]("exact"),
      s"${r.getString(1)}: cms ${r.getAs[Long]("est")} vs exact ${r.getAs[Long]("exact")}"))

    // windowed heavy hitters + KMV: KMV is a lattice join (bytes always
    // == batch); MG below capacity (15 users < k) is exact-mode -> bytes
    // == batch too, and its items ARE the per-user exact counts
    val q3 = StreamingSketch.windowedTopKeys(stream, "ts", "user_id",
        windowLen = "1 day", watermark = "0 seconds")
      .writeStream.outputMode("complete").format("memory").queryName("win_top")
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination(120000)
    val streamedTop = spark.sql("SELECT * FROM win_top")
      .collect().map(r => r.getAs[Any]("win_start").toString ->
        (r.getAs[Array[Byte]]("top_keys").toSeq,
          r.getAs[Array[Byte]]("key_kmv").toSeq)).toMap
    val batchTop = events.withColumn("ts", $"ts".cast("timestamp"))
      .groupBy(window($"ts", "1 day"))
      .agg(freq_build(xxh3_64($"user_id".cast("string")), lit(1L)).as("mg"),
        kmv_build(xxh3_64($"user_id".cast("string"))).as("kmv"))
      .select($"window.start".as("win_start"), $"mg", $"kmv")
      .collect().map(r => r.getAs[Any]("win_start").toString ->
        (r.getAs[Array[Byte]]("mg").toSeq, r.getAs[Array[Byte]]("kmv").toSeq)).toMap
    assert(streamedTop.nonEmpty && streamedTop.keySet === batchTop.keySet)
    for ((w, (mg, kmv)) <- streamedTop) {
      assert(mg === batchTop(w)._1, s"MG exact-mode bytes must match batch ($w)")
      assert(kmv === batchTop(w)._2, s"KMV bytes must not depend on order ($w)")
    }
    // the per-window items enumerate exact per-user counts (err 0)
    val topDf = spark.sql("SELECT * FROM win_top")
      .select($"win_start".cast("string").as("w"),
        explode(freq_items($"top_keys")).as("it"), freq_err($"top_keys").as("err"))
      .select($"w", $"it.hash".as("h"), $"it.lo".as("lo"), $"err")
    val exactUsers = events.withColumn("ts", $"ts".cast("timestamp"))
      .groupBy(window($"ts", "1 day"), xxh3_64($"user_id".cast("string")).as("h"))
      .agg(count(lit(1)).as("exact"))
      .select($"window.start".cast("string").as("w"), $"h", $"exact")
    val mgJoined = topDf.join(exactUsers, Seq("w", "h"), "full")
    assert(mgJoined.filter($"lo".isNull || $"exact".isNull ||
      $"lo" =!= $"exact" || $"err" =!= 0L).count() === 0L)
  }

  test("streaming exact dedup emits first arrivals only, equals batch distinct texts") {
    val srcDir = graft.SparkTestBase.tempDir("graft_stream_dedup").toString
    // 300 docs over 100 distinct texts, duplicates spread across 3 chunks;
    // arrival order == id order so the streamed survivor set is comparable
    val docs = (0 until 300).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        s"text number ${i % 100} body")
    }.toDF("doc_id", "ts", "text")
    // chunks by time so maxFilesPerTrigger replays in arrival order
    docs.filter($"doc_id" < 100).write.parquet(s"$srcDir/c=0")
    docs.filter($"doc_id" >= 100 && $"doc_id" < 200).write.parquet(s"$srcDir/c=1")
    docs.filter($"doc_id" >= 200).write.parquet(s"$srcDir/c=2")

    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/c=*")
    val deduped = StreamingSketch.dedupExact(stream, "ts", watermark = "10 minutes")
    val q = deduped.writeStream
      .outputMode("append")
      .format("memory").queryName("stream_dedup")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.sql("SELECT doc_id, text FROM stream_dedup").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.map(_._2).distinct.length === got.length, "no duplicate texts emitted")
    assert(got.map(_._2).toSet.size === 100, "every distinct text emitted once")
    // first arrival wins: all surviving ids come from the first chunk
    assert(got.map(_._1).forall(_ < 100), s"survivors must be first arrivals")
  }

  test("composed streaming pipeline: gopher filter -> stateful dedup -> WARC sink == batch") {
    // the continuous-crawl topology END TO END as one query: file stream ->
    // row-local quality kernel -> watermarked stateful exact dedup -> DSv2
    // WARC streaming sink; the archive read back must equal the batch
    // formulation (filter + first-arrival-per-text) — composition across
    // a codegen'd filter, flatMap-free stateful dedup, and an external
    // sink with per-epoch commit is what no per-operator test covers.
    val srcDir = graft.SparkTestBase.tempDir("graft_stream_e2e").toString
    val sinkDir = s"$srcDir/sink"
    // 58 passable words (stopword hits, mean len >= 3, alpha-heavy) with
    // doc-group tails: 120 docs over 40 distinct texts; every 7th doc is
    // symbol junk the gopher rule must drop
    val body = (0 until 54).map(j => f"wd$j%02d").mkString(" ") + " the and of with"
    val docs = (0 until 120).map { i =>
      val text = if (i % 7 == 3) "#### !!! #### !!! ####"
                 else s"$body group${i % 40}"
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        text)
    }.toDF("doc_id", "ts", "text")
    docs.filter($"doc_id" < 60).write.parquet(s"$srcDir/in/c=0")
    docs.filter($"doc_id" >= 60).write.parquet(s"$srcDir/in/c=1")

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/in/c=*")
      .filter(graft.operators.TextQuality.keepColumn())
    val q = StreamingSketch.dedupExact(stream, "ts", watermark = "10 minutes")
      .select(concat(lit("https://e2e.example/"), $"doc_id").as("url"),
        $"ts".as("warc_ts"), encode($"text", "UTF-8").as("html"))
      .writeStream.format("warc").option("path", sinkDir)
      .option("checkpointLocation", s"$srcDir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.read.format("warc").load(sinkDir)
      .select(regexp_extract($"url", "example/(\\d+)", 1).cast("long").as("doc_id"),
        $"payload".cast("string").as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // batch oracle on the guaranteed contract: the survivor TEXT set is
    // exactly the filtered distinct texts, one survivor per text, and each
    // survivor id genuinely carried that text. (WHICH duplicate survives
    // within one micro-batch is unspecified — dropDuplicatesWithinWatermark
    // only guarantees first-arrival across batches — so ids are checked
    // for membership, not minimality.)
    val wantTexts = docs.filter(graft.operators.TextQuality.keepColumn())
      .select($"text").distinct().collect().map(_.getString(0)).toSet
    assert(wantTexts.size === 40, s"oracle sanity: expected 40 texts, got ${wantTexts.size}")
    assert(got.length === 40, s"exactly one survivor per distinct text, got ${got.length}")
    assert(got.map(_._2).toSet === wantTexts,
      "streamed filtered-deduped archive must carry exactly the batch text set")
    got.foreach { case (id, text) =>
      assert(text.endsWith(s"group${id % 40}"), s"survivor $id carries wrong text")
      assert(id % 7 != 3, s"junk doc $id passed the quality filter")
    }
    // sink hygiene: only committed per-epoch parts, no temp skeleton left
    assert(!new java.io.File(s"$sinkDir/_temporary_warc").exists() ||
      new java.io.File(s"$sinkDir/_temporary_warc").listFiles().isEmpty)
  }

  test("streaming MinHash-LSH near-dedup == batch band-bucket candidates on a replay") {
    val srcDir = graft.SparkTestBase.tempDir("graft_stream_lsh").toString
    // 40 base texts x 3 arrivals: an exact copy (est 1.0), then a near copy
    // (a token appended -> most shingles shared); spread over 3 time chunks
    val docs = (0 until 120).map { i =>
      val base = i % 40
      val words = {
        val r2 = new java.util.Random(base)
        Array.fill(25)(s"w${r2.nextInt(500)}").mkString(" ")
      }
      val text = (i / 40) match {
        case 0 => words
        case 1 => words // exact copy of the base
        case _ => words + s" extra$base"
      }
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"), text)
    }
    val docsDf = docs.toDF("doc_id", "ts", "text")
    docsDf.filter($"doc_id" < 40).write.parquet(s"$srcDir/c=0")
    docsDf.filter($"doc_id" >= 40 && $"doc_id" < 80).write.parquet(s"$srcDir/c=1")
    docsDf.filter($"doc_id" >= 80).write.parquet(s"$srcDir/c=2")

    val (k, bands, t) = (16, 4, 0.5)
    val stream = spark.readStream.schema(docsDf.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/c=*")
    val pairs = StreamingSketch.minhashLshPairsStream(stream, "ts",
      watermark = "1 hour", stateTtlMs = 3600000L, n = 3, numHashes = k,
      bands = bands, minEstJaccard = t)
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("stream_lsh")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT * FROM stream_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // batch expectation from the SAME signatures: unordered pairs sharing
    // any band slice, estimated Jaccard >= t (no eviction fires: the whole
    // replay sits inside watermark + TTL)
    val sigs = graft.operators.Dedup.minhashSignatures(docsDf, n = 3, numHashes = k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val r0 = k / bands
    val expected = (for {
      b <- 0 until bands
      bucket <- sigs.groupBy(_._2.slice(b * r0, (b + 1) * r0)).values
      ids = bucket.keys.toSeq.sorted
      ia <- ids; ib <- ids if ia < ib
      est = (0 until k).count(i => sigs(ia)(i) == sigs(ib)(i)).toDouble / k
      if est >= t
    } yield (ia, ib, est)).toSet
    assert(got === expected, s"streamed ${got.size} vs batch ${expected.size}")
    assert(got.nonEmpty, "planted near-dups must produce pairs")
    // exact copies estimate 1.0
    assert((0 until 40).forall(b => got.contains((b.toLong, b + 40L, 1.0))),
      "every (base, exact copy) pair found at est 1.0")

    // bounded state: cap 1 keeps only the first arrival per bucket -> no
    // fewer emissions than pairs with the retained docs, never unbounded
    val q2 = StreamingSketch.minhashLshPairsStream(
        spark.readStream.schema(docsDf.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/c=*"),
        "ts", watermark = "1 hour", stateTtlMs = 3600000L, n = 3,
        numHashes = k, bands = bands, minEstJaccard = t, maxPerBucket = 1)
      .writeStream.outputMode("append").format("memory").queryName("stream_lsh_cap")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val capped = spark.sql("SELECT * FROM stream_lsh_cap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped.subsetOf(got), "capped emissions are a subset")
    assert(capped.size < got.size, "cap must drop some buffered comparisons")
  }

  test("streaming LSH replay of a doc neither re-emits its pairs nor eats bucket slots") {
    // at-least-once sources replay rows: a doc already buffered in its
    // bucket must be a no-op, not a second occupant. Four identical texts
    // (same signature -> same bucket in EVERY band): doc 1, doc 1 replayed,
    // doc 2, doc 3, with maxPerBucket=2. Correct behaviour buffers [1, 2]
    // and emits each unordered pair exactly once per band; double-buffering
    // doc 1 would instead emit (1,2) twice per band, steal doc 2's slot,
    // and never produce (2,3) at all.
    val srcDir = graft.SparkTestBase.tempDir("graft_stream_replay").toString
    val text = {
      val r2 = new java.util.Random(7)
      Array.fill(25)(s"w${r2.nextInt(500)}").mkString(" ")
    }
    val arrivals = Seq(1L, 1L, 2L, 3L)
    arrivals.zipWithIndex.foreach { case (id, i) =>
      Seq((id, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${10 + i}%02d"), text))
        .toDF("doc_id", "ts", "text").write.parquet(s"$srcDir/c=$i")
      // FileStreamSource orders by modification time: pin distinct mtimes
      // so fast-disk ties cannot reorder the intended arrival sequence
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$srcDir/c=$i")).forEach(p =>
        p.toFile.setLastModified(1700000000000L + i * 10000L))
    }
    val (k, bands) = (16, 4)
    val q = StreamingSketch.minhashLshPairsStream(
        spark.readStream.schema(
            Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), ""))
              .toDF("doc_id", "ts", "text").schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/c=*"),
        "ts", watermark = "1 hour", stateTtlMs = 3600000L, n = 3,
        numHashes = k, bands = bands, minEstJaccard = 0.5, maxPerBucket = 2)
      .writeStream.outputMode("append").format("memory").queryName("stream_lsh_replay")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val emitted = spark.sql("SELECT * FROM stream_lsh_replay").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    for ((a, b) <- Seq((1L, 2L), (1L, 3L), (2L, 3L)))
      assert(emitted.count(_ == (a, b, 1.0)) === bands,
        s"pair ($a,$b) exactly once per band; got $emitted")
    assert(emitted.length === 3 * bands, s"no replay-doubled emissions: $emitted")
  }

  test("row-local quality filter and chunking run unchanged on a stream") {
    // stateless operators need no streaming twin — prove the claim: the
    // SAME gopherFilter/splitByTokens calls run on a file stream and
    // produce exactly the batch result
    val srcDir = graft.SparkTestBase.tempDir("graft_stream_rowlocal")
      .toString + "/in"
    val good = (graft.core.text.TextOps.GopherStopwords ++
      (0 until 50).map(i => s"tok${('a' + i % 26).toChar}$i")).mkString(" ")
    val docs = (0 until 60).map(i =>
      (i.toLong, if (i % 3 == 0) "too short" else good)).toDF("doc_id", "text")
    docs.write.parquet(srcDir)
    val stream = spark.readStream.schema(docs.schema).parquet(srcDir)
    val q = graft.operators.Chunking.splitByTokens(
        graft.operators.TextQuality.gopherFilter(stream)
          .filter(col("keep")).select($"doc_id", $"text"),
        maxTokens = 16, overlap = 2)
      .writeStream.outputMode("append").format("memory").queryName("rowlocal")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT doc_id, chunk_id, text FROM rowlocal")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val batch = graft.operators.Chunking.splitByTokens(
        graft.operators.TextQuality.gopherFilter(docs)
          .filter(col("keep")).select($"doc_id", $"text"),
        maxTokens = 16, overlap = 2)
      .select($"doc_id", $"chunk_id", $"text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(streamed === batch && streamed.nonEmpty)
    assert(!streamed.exists(_._1 % 3 == 0), "rejected docs never reach the sink")
  }

  test("stateful sessionization closes gap-split sessions AND idle sessions via event-time timeout") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = Seq(
      EventIn(1L, new java.sql.Timestamp(base)),
      EventIn(1L, new java.sql.Timestamp(base + 60000)),       // same session
      EventIn(1L, new java.sql.Timestamp(base + 10000000)),    // new session
      EventIn(2L, new java.sql.Timestamp(base)))               // then user 2 goes idle
    val srcDir = graft.SparkTestBase.tempDir("graft_sess").toString
    rows.toDS().write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(rows.toDS().schema).parquet(srcDir).as[EventIn]
      .withWatermark("ts", "0 seconds")
    val sessions = StreamingSketch.sessionize(stream, gapMs = 30 * 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // user 1's first session closes by gap; user 2's only session closes by
    // EVENT-TIME TIMEOUT once the watermark (driven by user 1's later
    // events) passes base+gap — no further user-2 event needed. User 1's
    // final session stays open (watermark < its last+gap).
    val closed = spark.sql("SELECT * FROM sessions").as[SessionOut].collect()
      .sortBy(_.user_id)
    assert(closed.toSeq === Seq(
      SessionOut(1L, 2, base, base + 60000),
      SessionOut(2L, 1, base, base)))
  }

  test("streaming sketch-state sink + batch report == pure batch magnitude report") {
    val dir = graft.SparkTestBase.tempDir("graft_smag").toString
    val pages = graft.sources.Pages.generateDf(spark, 6000, hosts = 80, days = 2, partitions = 3)
    // feed files in event-time order (FileStreamSource picks oldest mtime
    // first): day-2 data arriving after day-1 advances the watermark and
    // CLOSES the day-1 window; day-2 itself never closes (append semantics)
    import org.apache.spark.sql.functions.to_date
    pages.filter(to_date($"warc_ts") === "2000-01-01")
      .write.mode("overwrite").parquet(s"$dir/src")
    Thread.sleep(1500)
    pages.filter(to_date($"warc_ts") === "2000-01-02")
      .write.mode("append").parquet(s"$dir/src")

    val stream = spark.readStream.schema(pages.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src")
    val q = StreamingSketch.pagesSketchState(stream, "1 day", "0 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .format("parquet").option("path", s"$dir/state")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)

    // append-mode parquet may hold several finalized rows per (date,host)
    // (one per closing batch) -> merge them first: exactly the aggregate path
    val state = graft.pipelines.Magnitude.aggregate(spark.read.parquet(s"$dir/state"))
    val streamedRep = graft.pipelines.Magnitude.report(state).collect()
      .map(r => (r.getAs[java.sql.Date]("date").toString, r.getAs[String]("host"),
        r.getAs[Long]("unique_pages"), r.getAs[Long]("queries"),
        r.getAs[Long]("total_unique_pages")))
      .sortBy(_.toString)
    // only CLOSED windows are emitted in append mode: day 1 must equal the
    // batch report exactly; day 2 (still open at end of input) is absent
    assert(streamedRep.nonEmpty)
    assert(streamedRep.forall(_._1 == "2000-01-01"), "open window must not be emitted")
    val batchRep = graft.pipelines.Magnitude.run(
        pages.filter(to_date($"warc_ts") === "2000-01-01")).collect()
      .map(r => (r.getAs[java.sql.Date]("date").toString, r.getAs[String]("host"),
        r.getAs[Long]("unique_pages"), r.getAs[Long]("queries"),
        r.getAs[Long]("total_unique_pages")))
      .sortBy(_.toString)
    assert(streamedRep === batchRep)
  }
}
