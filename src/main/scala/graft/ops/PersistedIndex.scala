package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one build-once / serve-many lifecycle every persisted index shares
  * ([[DedupIndex]], [[CurationIndex]], [[IvfIndex]], [[ClassifierIndex]],
  * [[Bm25Index]], [[LmIndex]]): key the artifacts, check they are
  * complete, and build iff they are not — else serve what is there.
  *
  * The key is `target/<family>/v<version>-<sfDir key>-<count>-<max id>-
  * <xor hex>[-<suffix>]`, under the cwd-relative, gitignored `target/`
  * (cwd is the repo root for every graft entry point):
  *  - the corpus fingerprint (row count, max id, order-independent
  *    `bit_xor(xxhash64(id, payload))`) changes with any corpus edit, even
  *    one that keeps count and max id, so content drift rebuilds;
  *  - `version` is the index object's `Version` literal, kept next to its
  *    `build`. Bump it on ANY change to what `build` writes (knobs, hash
  *    family, algorithm, layout) and logic drift rebuilds too — the
  *    fingerprint cannot see a code edit;
  *  - `suffix` separates variants built from one corpus (the classifier's
  *    label kind).
  *
  * The fingerprint is one Spark job per call and deliberately uncached: a
  * cache keyed on `sfDir` could not see a corpus rewritten in place.
  */
object PersistedIndex {

  /** An index's directory layout: every directory its `build` writes. */
  trait Layout {
    def all: Seq[String]
  }

  /** The artifact root for `corpus` (fingerprinted on its `id` and
    * `payload` columns) built by `family` at `version`. */
  def root(family: String, version: Int, sfDir: String, corpus: DataFrame,
      id: String, payload: String, suffix: String = ""): String = {
    val fp = corpus.agg(count(lit(1)), max(col(id)),
      expr(s"bit_xor(xxhash64($id, $payload))")).collect()(0)
    val key = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    s"target/$family/v$version-$key-${fp.getLong(0)}-${fp.getLong(1)}" +
      s"-${java.lang.Long.toHexString(fp.getLong(2))}" +
      (if (suffix.isEmpty) "" else s"-$suffix")
  }

  /** True iff every directory holds Spark's `_SUCCESS` commit marker. */
  def complete(s: SparkSession, dirs: Seq[String]): Boolean = {
    val conf = s.sessionState.newHadoopConf()
    dirs.forall { d =>
      val marker = new org.apache.hadoop.fs.Path(d, "_SUCCESS")
      marker.getFileSystem(conf).exists(marker)
    }
  }

  /** Serve `p` if all of its directories are complete, else `build` it. */
  def ensure[P <: Layout](s: SparkSession, p: P)(build: => P): P =
    if (complete(s, p.all)) p else build
}
