package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards the main sources against mechanisms that were removed:
  * global-pool Futures (a pooled thread keeps the job group of the
  * query that created it — driver-side concurrency goes through
  * [[Par]]), identity-hash memo keys (a dead session's hash can be
  * reused — memos go through [[Memo]]), and NUL bytes (they make grep
  * treat a source as binary; write `\u0000` instead). Main and test
  * sources also carry no absolute checkout path: stores live under
  * `spark.graft.store.root`, and specs use [[SparkFixture.tmp]]. Which
  * rollup store serves a query is decided in plans/RollupServing.scala
  * alone. Materialization has one rule: inside a query an eager
  * `localCheckpoint()` (no `.cache()`, whose plan-matched entries
  * outlive the session and serve a rewritten table's old rows), across
  * queries [[Memo.over]] keyed on the source table (no tuple key over a
  * dataset dir). The raw-sample covering-step law is written once, in
  * `Promql.coveringSteps`.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private val sources: Seq[Path] = scalaFiles("src/main/scala")

  test("main sources are found") {
    assert(sources.exists(_.endsWith("graft/Exec.scala")), s"scanned: $sources")
  }

  for ((banned, why) <- Seq(
         "ExecutionContext.Implicits.global" -> "run driver-side work through graft.Par",
         "System.identityHashCode" -> "key memos through graft.Memo",
         ".cache()" -> "materialize with localCheckpoint(), or across queries with Memo.over",
         "localCheckpoint(true)" -> "write localCheckpoint(): eager is its default")) {
    test(s"no main source uses $banned") {
      val hits = sources.filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(banned))
      assert(hits.isEmpty, s"$why: $hits")
    }
  }

  test("no main source contains a NUL byte") {
    val hits = sources.filter(p => Files.readAllBytes(p).contains(0.toByte))
    assert(hits.isEmpty, s"write NUL as the \\u0000 escape: $hits")
  }

  test("plans/ and operators/ resolve rollup stores only through RollupServing") {
    val decision = Seq("""conf\.get\([^)]*StreamStoreConf""", """foldedLevel\(""",
      """retainFloor\(""", """storePath1[dh]\(""").map(_.r)
    val hits = for {
      p <- sources
      rel = p.toString
      if rel.contains("graft/plans/") || rel.contains("graft/operators/")
      if !rel.endsWith("graft/plans/RollupServing.scala")
      text = new String(Files.readAllBytes(p), "UTF-8")
      re <- decision if re.findFirstIn(text).isDefined
    } yield s"$p: $re"
    assert(hits.isEmpty, s"decide rollup serving in plans/RollupServing.scala: $hits")
  }

  test("no memo over a dataset dir is keyed on a tuple") {
    val tupleKey = """Memo\(\s*\w+\s*,\s*\(\s*"[^"]*"\s*,\s*dir""".r
    val hits = sources.filter(p =>
      tupleKey.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
    assert(hits.isEmpty, s"key a value derived from a table with Memo.over: $hits")
  }

  test("operators/ write the raw covering-step law once") {
    val law = """val kM(in|ax)\b""".r
    val hits = for {
      p <- sources if p.toString.contains("graft/operators/")
      m <- law.findAllIn(new String(Files.readAllBytes(p), "UTF-8"))
    } yield s"${p.getFileName}: $m"
    assert(hits === Seq("Promql.scala: val kMin", "Promql.scala: val kMax"),
      "explode raw samples through Promql.coveringSteps")
  }

  test("no main or test source hardcodes the checkout path") {
    // built from parts, so this spec does not match itself
    val checkout = Seq("", "root", "repo").mkString("/")
    val hits = (sources ++ scalaFiles("src/test/scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(checkout))
    assert(hits.isEmpty, s"use spark.graft.store.root or SparkFixture.tmp: $hits")
  }
}
