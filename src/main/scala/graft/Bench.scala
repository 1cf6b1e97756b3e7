package graft
import org.apache.spark.sql.SparkSession

/** Kafka-source-shaped record for the ingest throughput replay (same
  * column shape the Kafka source and StreamingSpec use). Object-level so
  * the Product encoder's TypeTag resolves. */
final case class BenchKRec(topic: String, partition: Int, offset: Long,
    timestamp: java.sql.Timestamp, timestampType: String,
    key: Array[Byte], value: Array[Byte])

object Bench {

  /** The reference's own sample Kafka event — the ingest replay's input. */
  private val SampleEventPath = "/root/reference/sample_kafka_event.json"

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => try java.nio.file.Files.deleteIfExists(f)
            catch { case _: Throwable => () })
    } catch { case _: Throwable => () }

  /** Time one catalog entry (materialize via count). Returns
    * (seconds, error): a throwing entry reports its error instead of
    * silently contributing a near-zero "time" — main carries every error
    * into the artifact's `"errors"` array and the process exit code.
    * Operator-internal caches are released OUTSIDE the timed region so
    * the number is the query, not the teardown. */
  def timeEntry(spark: SparkSession, sfDir: String,
      q: queries.Q): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err =
      try { q.run(spark, sfDir).count(); None }
      catch { case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName)
          .replaceAll("\\s+", " ").take(200))
      }
    val sec = (System.nanoTime() - t0) / 1e9
    operators.PlanCache.releaseAll()
    spark.catalog.clearCache()
    (sec, err)
  }

  /** Ingest throughput replay (VERDICT r8 #5, r11 #5): the reference's
    * ONLY published performance contract is ingest — 10k records inside a
    * 900 s Lambda timeout (lambda-kafka-to-s3-10k-SAM_template.yaml:13,29),
    * a floor of 11.1 records/s — and its deployment shape is 11
    * event-source mappings feeding one Lambda concurrently
    * (configure_lambda_triggeres.sh:13-23). Replays that shape through the
    * real pipeline: `nTopics` independent checkpointed streams — each its
    * own MemoryStream, subject (`{topic}-value` fixture), output dir and
    * checkpoint — each fed `nBatches` micro-batches of `perBatch`
    * Confluent-Avro envelope records (the reference's own sample event,
    * replicated with fresh offsets) through `KafkaToParquet.runStream`
    * from its own thread. Per batch: full Avro decode, whole-batch
    * total+distinct counts, and the count-bearing single-file parquet
    * write. The figure is TOTAL records over the concurrent wall, and
    * every topic's lake is delivery-audited after the clock stops.
    * Returns (records/s, total records, nTopics); None when the reference
    * fixture is absent (the metric is skipped, never faked) or a stream
    * failed its run or its audit. */
  def multiTopicThroughput(spark: SparkSession, nTopics: Int,
      perBatch: Int, nBatches: Int): Option[(Double, Long, Int)] = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(SampleEventPath)))
      return None
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = ingest.Envelope.readEventJson(spark, SampleEventPath).collect()
      .map(r => (r.getInt(1), r.getTimestamp(3),
        r.getString(4), r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](6)))
    val topics = (0 until nTopics)
      .map(i => s"${ingest.RatecardSchema.topic}_mt$i")
    val provider = new ingest.CachingSchemaProvider(
      new ingest.FixtureSchemaProvider(
        topics.map(_ -> ingest.RatecardSchema.schemaJson).toMap))
    // per-topic record batches are PRE-BUILT before the clock starts —
    // driver-side Seq construction is setup, not pipeline throughput
    // (ADVICE r12: it used to be built inside each timed thread)
    val prebuilt: Map[String, IndexedSeq[IndexedSeq[BenchKRec]]] =
      topics.map { t =>
        t -> (0 until nBatches).map { b =>
          val off = b.toLong * perBatch
          (0 until perBatch).map { i =>
            val (p, ts, tt, k, v) = base(i % base.length)
            BenchKRec(t, p, off + i, ts, tt, k, v)
          }
        }
      }.toMap
    val tempDirs = scala.collection.mutable.ListBuffer[java.nio.file.Path]()
    try {
      val streamsAndQueries = topics.map { t =>
        val stream = MemoryStream[BenchKRec]
        val out = java.nio.file.Files.createTempDirectory(s"graft_mt_$t")
        val ckpt = java.nio.file.Files.createTempDirectory(s"graft_mt_ckpt_$t")
        tempDirs += out; tempDirs += ckpt
        val q = pipeline.KafkaToParquet.runStream(
          stream.toDF(), t, provider, out.toString, ckpt.toString,
          "SRC_KEY_VAL",
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        (t, stream, q, out)
      }
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val t0 = System.nanoTime()
      val threads = streamsAndQueries.map { case (t, stream, q, _) =>
        val th = new Thread(() => {
          try {
            for (recs <- prebuilt(t)) {
              // one addData + drain per round = one micro-batch = one
              // Lambda invocation equivalent
              stream.addData(recs)
              q.processAllAvailable()
            }
          } catch { case e: Throwable =>
            failures.add(s"$t: ${e.getMessage}")
          }
        }, s"graft-mt-$t")
        th.start(); th
      }
      threads.foreach(_.join())
      val sec = (System.nanoTime() - t0) / 1e9
      streamsAndQueries.foreach { case (_, _, q, _) =>
        try q.stop() catch { case _: Throwable => } }
      if (!failures.isEmpty) {
        System.err.println(s"[bench] ingest replay (n=$nTopics) failed: " +
          failures.toArray.mkString("; "))
        return None
      }
      // delivery audit (untimed): every topic's lake must hold EXACTLY its
      // own records — a lost batch or cross-topic bleed must fail the
      // figure, not publish a throughput for work that didn't happen
      val expected = perBatch.toLong * nBatches
      for ((t, _, _, out) <- streamsAndQueries) {
        val landed = spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$out/$t").count()
        if (landed != expected) {
          System.err.println(s"[bench] ingest replay delivery mismatch: " +
            s"$t landed $landed of $expected")
          return None
        }
      }
      val total = expected * nTopics
      Some((math.round(total / sec * 10) / 10.0, total, nTopics))
    } finally tempDirs.foreach(deleteRecursively)
  }

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonMap(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => jsonStr(k) + ":" + v }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR") // keep stdout clean for the metric line
    // Bench times the incremental entries (q170/q177) in their production
    // shape — ONE batch against a prebuilt index — not the 3-wave
    // equivalence replay Verify compares against the oracle (VERDICT r6
    // #6: the replay is a demo loop and was the bench tail every round).
    spark.conf.set("spark.graft.bench.singleWave", "true")
    // Untimed warmup: absorb JIT/codegen/first-scan costs so per-query
    // numbers reflect steady-state execution, then run in catalog order.
    try SparkEntry.queries("q01_counts")(spark, sfDir).count()
    catch { case _: Throwable => }
    // Iteration aid: SPARK_GRAFT_ONLY=q36_minhash_lsh,q88_cluster_keepers
    // times just those entries (full catalog when unset). Unknown names
    // fail loudly — a typo must not pass as a near-zero "measurement".
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val known = SparkEntry.catalog.map(_.name).toSet
      val unknown = names -- known
      if (unknown.nonEmpty) {
        System.err.println(
          s"[bench] SPARK_GRAFT_ONLY names not in the catalog: ${unknown.toSeq.sorted.mkString(", ")}")
        spark.stop()
        sys.exit(1)
      }
    }
    val entries = SparkEntry.catalog.filter(q => only.forall(_.contains(q.name)))
    // A filtered run IS the isolated measurement (bench_delta --retime
    // consumes it), and the committed isolated map is WARM (it re-times
    // after the catalog pass). Match that: pre-run the filtered entries
    // once untimed so the timed pass reads steady state, not first-JVM
    // JIT/codegen cost (the verify guide's "run 3x, read runs 2-3").
    if (only.isDefined) entries.foreach(q => timeEntry(spark, sfDir, q))
    val timed = entries.map { q =>
      val (sec, err) = timeEntry(spark, sfDir, q)
      err.foreach(m => System.err.println(s"[bench] ${q.name} failed: $m"))
      (q, sec, err)
    }
    val results = timed.map { case (q, sec, _) => q.name -> sec }
    // The full-catalog pass carries 2-4× ordering/contention noise per
    // entry (SCALE.md) — a regression on one query is invisible in it, and
    // its TOTAL swings 1.5-2.8× with zero repo changes across machine
    // windows. So after the pass, re-time EVERY successful entry one at a
    // time (caches cleared between, everything already warm) and record
    // that second map alongside: "queries" = catalog order in one process,
    // "isolated" = clean steady-state per entry — full coverage from
    // round 9 on (VERDICT r8 #1/#6). The SUM of the isolated map,
    // "isolated_total", is the variance-robust headline that gates
    // regressions (VERDICT r8 #2; SCALE.md names it).
    //
    // Since r13 (VERDICT r12 #1) the isolated number is an IN-PROCESS
    // MEDIAN: each entry is re-timed `reps` times back-to-back (caches
    // cleared between runs — the tools/bench_delta.py --retime protocol,
    // moved inside the bench so the DRIVER's one-shot artifact is
    // noise-robust too; the r12 driver isolated_total read 465.8 s where
    // the committed median-of-3 read 258.2 s with zero per-entry data to
    // adjudicate the 1.8× gap). "isolated" carries the per-entry MEDIANS,
    // "isolated_raw" the raw readings, and "isolated_pass_totals" the
    // per-pass sums — a contended host window shows up INSIDE one
    // artifact as pass-total spread instead of poisoning the headline.
    // Skipped under SPARK_GRAFT_ONLY — a filtered run IS the isolated
    // measurement. A re-run that THROWS must surface like any other
    // failure, not masquerade as a near-zero isolated "time".
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3))
    val isolatedRaw: Seq[(String, Seq[(Double, Option[String])])] =
      if (only.isDefined) Seq.empty
      else timed.filter(_._3.isEmpty).map { case (q, _, _) =>
        // One UNTIMED warm run per entry before the timed reps (VERDICT
        // r13 #2): on a cold driver host the catalog pass alone leaves
        // residual first-touch cost (page cache, codegen, shuffle-file
        // reuse) that made rep-1 dominate medians (q170 driver triple
        // [22.1, 14.1, 6.2] — a warmup tail, not a plan property). The
        // warm run absorbs it so the reps read steady state and the
        // pass-total spread stays tight in one artifact.
        timeEntry(spark, sfDir, q)
        q.name -> (1 to reps).map(_ => timeEntry(spark, sfDir, q))
      }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val isolatedTriples = isolatedRaw.collect {
      case (n, runs) if runs.forall(_._2.isEmpty) => n -> runs.map(_._1)
    }
    val isolated = isolatedTriples.map { case (n, xs) => n -> median(xs) }
    val passTotals = (0 until reps).map { k =>
      math.round(isolatedTriples.map(_._2(k)).sum * 1000) / 1000.0
    }
    val errors = timed.collect { case (q, _, Some(m)) => s"${q.name}: $m" } ++
      isolatedRaw.collect { case (n, runs) if runs.exists(_._2.isDefined) =>
        s"$n (isolated): ${runs.flatMap(_._2).head}" }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val totalR = math.round(total * 1000) / 1000.0
    val isoTotalR = math.round(isolated.map(_._2).sum * 1000) / 1000.0
    // best-of-reps total: the pass-1-insensitive headline companion the
    // verdict asked for — with the per-entry warm run the median and the
    // best should track closely; a large gap flags a contended window
    val isoBestR = math.round(
      isolatedTriples.map(_._2.min).sum * 1000) / 1000.0
    // Ingest replays AFTER the catalog passes (they share the JVM; their
    // cost must not contaminate per-entry numbers). Skipped under
    // SPARK_GRAFT_ONLY (an entry-scoped run wants entry numbers only).
    // First the single-topic contract shape (one stream, 10 batches of
    // 10k), then the N-topic concurrent replay at the reference's ACTUAL
    // deployment widths (VERDICT r12 #5: configure_lambda_triggeres.sh
    // registers 11 event-source mappings; 4 alone understates the
    // amortization claim) — the 4 → 8 → 11 scaling curve. Every point is
    // delivery-audited; the headline multi_topic_throughput is n=11.
    def replay(nTopics: Int, nBatches: Int): Option[(Double, Long)] =
      try multiTopicThroughput(spark, nTopics, perBatch = 10000, nBatches)
        .map { case (rps, tot, _) => (rps, tot) }
      catch { case e: Throwable =>
        System.err.println(
          s"[bench] ingest replay (n=$nTopics) failed: ${e.getMessage}")
        None
      }
    val ingestTp: Option[(Double, Long)] =
      if (only.isDefined) None else replay(1, nBatches = 10)
    val multiCurve: Seq[(Int, (Double, Long))] =
      if (only.isDefined) Seq.empty
      else Seq(4, 8, 11).flatMap(n => replay(n, nBatches = 3).map(n -> _))
    val multiTp: Option[(Double, Long, Int)] =
      multiCurve.lastOption.map { case (n, (rps, tot)) => (rps, tot, n) }
    val errJson =
      if (errors.isEmpty) ""
      else s""","errors":${errors.map(jsonStr).mkString("[", ",", "]")}"""
    val isoJson =
      if (isolated.isEmpty) ""
      else {
        def r3(x: Double): Double = math.round(x * 1000) / 1000.0
        val raw = isolatedTriples.map { case (n, xs) =>
          jsonStr(n) + ":" + xs.map(r3).mkString("[", ",", "]")
        }.mkString("{", ",", "}")
        s""","isolated":${jsonMap(isolated)},"isolated_total":$isoTotalR""" +
          s""","isolated_best_total":$isoBestR""" +
          s""","isolated_reps":$reps,"isolated_raw":$raw""" +
          s""","isolated_pass_totals":${passTotals.mkString("[", ",", "]")}"""
      }
    // records/s through the full decode+count+write pipeline; the
    // reference's derived floor is 11.1 rec/s (10k records / 900 s
    // Lambda timeout, lambda-kafka-to-s3-10k-SAM_template.yaml:13,29)
    val ingestJson = (ingestTp.map { case (rps, n) =>
      s""","ingest_throughput":$rps,"ingest_records":$n,"ingest_floor_recs_per_s":11.1"""
    }.getOrElse("")) + (multiTp.map { case (rps, n, k) =>
      s""","multi_topic_throughput":$rps,"multi_topic_records":$n,"multi_topic_n":$k"""
    }.getOrElse("")) + (if (multiCurve.isEmpty) "" else {
      val curve = multiCurve.map { case (n, (rps, _)) =>
        jsonStr(n.toString) + ":" + rps
      }.mkString("{", ",", "}")
      s""","multi_topic_curve":$curve"""
    })
    // Entries timed in single-wave (production per-batch) shape under
    // spark.graft.bench.singleWave — a DIFFERENT computation than the
    // 3-wave replay the correctness harness verifies under the same
    // name. Recorded so artifact consumers can tell the timed shape from
    // the verified shape (ADVICE r7) and so these numbers are not
    // compared against rounds 1-6, which timed the replay.
    val singleWave = Seq("q170_incremental_neardup", "q177_incremental_cc")
      .filter(n => results.exists(_._1 == n))
    val swJson =
      if (singleWave.isEmpty) ""
      else s""","single_wave":${singleWave.map(jsonStr).mkString("[", ",", "]")}"""
    val fullJson =
      s"""{"metric":"total","value":$totalR,"unit":"sec","queries":${jsonMap(results)}$isoJson$ingestJson$swJson$errJson,"sf":"$sfDir"}"""
    // Per-query detail goes to target/bench.json AND to
    // BENCH_QUERIES_latest.json at the repo root — the latter is the
    // committed cross-round record (VERDICT r8 #1: per-entry times must
    // live in committed artifacts; the round-close commit picks it up).
    // stdout carries a short total-only line: the driver captures a
    // bounded TAIL of stdout — a long line can start outside the window
    // and become unparseable (BENCH_r01/r02 both lost the metric this
    // way). Keep the stdout line < 200 chars and make it the LAST thing
    // printed.
    // A filtered (SPARK_GRAFT_ONLY) run writes ONLY target/bench.json:
    // the repo-root artifact is the committed FULL-catalog record, and a
    // retime of three flagged entries must not replace it.
    val outPaths =
      if (only.isDefined) Seq("target/bench.json")
      else Seq("target/bench.json", "BENCH_QUERIES_latest.json")
    for (path <- outPaths) {
      try {
        val out = java.nio.file.Paths.get(path)
        if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.writeString(out, fullJson + "\n")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    }
    val shortErr = if (errors.isEmpty) "" else s""","errors":${errors.size}"""
    // the short driver-captured line now carries the per-pass isolated
    // sums too: the three readings adjudicate a noisy window from the
    // driver artifact ALONE (VERDICT r12 #1's "three readings in the
    // JSON tail"); per-entry detail stays in BENCH_QUERIES_latest.json,
    // which the round-close commit picks up
    val shortIso =
      if (isolated.isEmpty) ""
      else s""","isolated_total":$isoTotalR,"isolated_best_total":$isoBestR""" +
        s""","isolated_reps":$reps""" +
        s""","isolated_pass_totals":${passTotals.mkString("[", ",", "]")}"""
    val shortIngest = ingestTp.map { case (rps, _) =>
      s""","ingest_throughput":$rps""" }.getOrElse("")
    val shortJson =
      s"""{"metric":"total","value":$totalR,"unit":"sec"$shortIso$shortIngest$shortErr,"sf":"$sfDir"}"""
    // r17 (VERDICT r16 #5/#7): ALSO print the full per-query JSON —
    // PERF_r16's comparator found no per-query rows because the stdout
    // contract line carried none. It goes FIRST, so a consumer whose
    // capture window is a bounded stdout tail (the 2000-char windows in
    // BENCH_r01/r02 lost a full-line-only metric entirely) still sees
    // the short line complete and last, while a full-stdout consumer
    // gets the whole queries/isolated maps. Additions only: every key
    // the short line carried is unchanged.
    if (only.isEmpty) println(fullJson)
    println(shortJson)
    spark.stop()
    // A failed entry must fail the artifact run loudly, not flatter the
    // total with its near-zero time.
    if (errors.nonEmpty) sys.exit(1)
  }
}
