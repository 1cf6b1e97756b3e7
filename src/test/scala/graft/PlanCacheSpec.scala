package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, PlanCache}

/** The operator-persist contract (PlanCache), the bench's loud-failure
  * contract (Bench.timeEntry) and the one-session-builder audit.
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
}
