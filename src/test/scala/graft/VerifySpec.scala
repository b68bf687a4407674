package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Verify.dump]]'s output contract: the oracle file holds only the
  * selected queries, and a failing query is reported in
  * `failures.json` and in the returned map, not only on stderr. */
class VerifySpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession.{spark, sf}

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]
  private def tempDir(tag: String): Path = {
    val d = Files.createTempDirectory(tag); dirs += d; d
  }
  override def afterAll(): Unit =
    dirs.foreach(d => FileUtils.deleteDirectory(d.toFile))

  /** The top-level keys of a JSON object file (parsing it also proves
    * the file is valid JSON, which check_oracle.py's json.load needs). */
  private def keys(dir: Path, file: String): Set[String] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(dir.resolve(file).toFile).fieldNames().asScala.toSet

  test("a subset dump writes only that subset's oracles and no " +
      "failures.json when every query succeeds") {
    val out = tempDir("graft-verify-ok")
    val names = Set("q_agg_pricing", "q_join_mktsegment")
    assert(names.forall(SparkEntry.oracleSql.contains))
    val failures = Verify.dump(spark, sf, out.toString, Some(names))
    assert(failures.isEmpty)
    assert(keys(out, "oracle_sql.json") === names)
    names.foreach(n => assert(Files.isDirectory(out.resolve(n))))
    assert(keys(out, "verify_times.json") === Set("sf", "times"))
    assert(!Files.exists(out.resolve("failures.json")))
  }

  test("a failing query lands in failures.json with its error") {
    val missing = tempDir("graft-verify-empty-sf")
    val out = tempDir("graft-verify-fail")
    val failures = Verify.dump(spark, missing.toString, out.toString,
      Some(Set("q_agg_pricing")))
    assert(failures.keySet === Set("q_agg_pricing"))
    assert(keys(out, "failures.json") === Set("q_agg_pricing"))
    assert(Files.readString(out.resolve("failures.json")).contains("lineitem"))
  }

  test("unknown names in the subset are rejected before any query runs") {
    val out = tempDir("graft-verify-unknown")
    val e = intercept[IllegalArgumentException] {
      Verify.dump(spark, sf, out.toString, Some(Set("q_no_such_query")))
    }
    assert(e.getMessage.contains("q_no_such_query"))
    assert(!Files.exists(out.resolve("oracle_sql.json")))
  }

  test("JSON escaping covers quotes, backslashes and control chars") {
    assert(Verify.q("a\"b\\c\n\t\u0001") === "\"a\\\"b\\\\c\\n\\t\\u0001\"")
  }
}
