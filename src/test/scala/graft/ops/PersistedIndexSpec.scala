package graft.ops

import java.nio.file.Files

import graft.SparkSpecBase

/** The shared lifecycle on a synthetic one-row index: the key separates
  * versions, variants and corpora, a complete index is served as is, and
  * one missing `_SUCCESS` marker forces a rebuild. */
class PersistedIndexSpec extends SparkSpecBase {
  import PersistedIndexSpec.TwoDirs
  import spark.implicits._

  private def corpus(text: String) =
    Seq((1L, text)).toDF("doc_id", "text")

  test("version, suffix and corpus each key a different root") {
    def root(version: Int, suffix: String, text: String) =
      PersistedIndex.root("persisted-index-spec", version, "synthetic",
        corpus(text), "doc_id", "text", suffix)
    val r = root(1, "", "x")
    assert(r.startsWith("target/persisted-index-spec/v1-synthetic-1-1-"))
    assert(r == root(1, "", "x"), "the key must be deterministic")
    assert(r != root(2, "", "x"), "versions must key different roots")
    assert(r != root(1, "k", "x"), "suffixes must key different roots")
    assert(root(1, "k", "x").endsWith("-k"))
    assert(r != root(1, "", "y"), "corpora must key different roots")
  }

  test("a complete index is served; a missing _SUCCESS forces a rebuild") {
    val p = TwoDirs(Files.createTempDirectory("persisted-index").toString)
    var builds = 0
    def build(): TwoDirs = {
      builds += 1
      p.all.foreach(d => corpus("x").write.mode("overwrite").parquet(d))
      p
    }
    try {
      assert(PersistedIndex.ensure(spark, p)(build()) == p && builds == 1)
      PersistedIndex.ensure(spark, p)(build())
      assert(builds == 1, "a complete index must be served, not rebuilt")
      Files.delete(java.nio.file.Paths.get(p.b, "_SUCCESS"))
      assert(!PersistedIndex.complete(spark, p.all))
      PersistedIndex.ensure(spark, p)(build())
      assert(builds == 2, "an incomplete index must be rebuilt")
      assert(PersistedIndex.complete(spark, p.all))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(p.root))
  }
}

object PersistedIndexSpec {
  final case class TwoDirs(root: String) extends PersistedIndex.Layout {
    def a: String = s"$root/a"
    def b: String = s"$root/b"
    def all: Seq[String] = Seq(a, b)
  }
}
