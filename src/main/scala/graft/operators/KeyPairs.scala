package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The key self-join the pair miners share: per-doc keys in, a df cap,
  * a `doc_id`-ordered self-join on the key, and (for the set miners) a
  * per-pair shared-key count. Each miner keeps only its own kernel (which
  * keys a doc has) and its verify step (what a candidate pair must
  * satisfy). Inputs carry a `doc_id` column. */
private[operators] object KeyPairs {

  /** `rel` hash-partitioned by `keys`, then persisted at `lvl`. Adaptive
    * execution reuses no exchange above a persisted relation (each read is
    * a query stage of its own), so a miner whose census, cap and self-join
    * all key on `keys` shuffles its relation once here and then reads
    * key-local partitions everywhere, instead of shuffling it again under
    * every reader. */
  def persistByKey(rel: DataFrame, keys: Seq[String],
      lvl: StorageLevel): DataFrame =
    rel.repartition(keys.map(col): _*).persist(lvl)

  /** The rows of `rel` whose key (the `keys` columns) at most `cap`
    * distinct docs hold — the df cap that keeps a hot key (boilerplate
    * window, degenerate band bucket) from squaring in the self-join.
    * Planned, never collected: an aggregate, a filter and an inner join
    * back, so the cap costs no action of its own and no literal list.
    * Keys held by fewer than `minDocs` docs drop too; the default 1 keeps
    * singleton keys, which the size censuses count. */
  def capKeys(rel: DataFrame, keys: Seq[String], cap: Long,
      minDocs: Long = 1): DataFrame = {
    val kept =
      if (minDocs > 1) col("ndocs").between(minDocs, cap)
      else col("ndocs") <= cap
    val eligible = rel.groupBy(keys.map(col): _*)
      .agg(count_distinct(col("doc_id")).as("ndocs"))
      .filter(kept).select(keys.map(col): _*)
    rel.join(eligible, keys)
  }

  /** One action: how many keys [[capKeys]] drops from `rel` at `cap`, and
    * how many doc memberships they hold, logged at WARN when non-zero so
    * a capped miner never drops candidates silently. */
  def warnDropped(rel: DataFrame, keys: Seq[String], cap: Long,
      miner: String): Unit = {
    val hot = rel.groupBy(keys.map(col): _*)
      .agg(count_distinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") > cap)
      .agg(count(lit(1)), coalesce(sum(col("ndocs")), lit(0L))).first()
    if (hot.getLong(0) > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$miner: dropped ${hot.getLong(0)} key(s) held by more than $cap " +
          s"docs (${hot.getLong(1)} doc memberships) from candidate generation")
  }

  /** Every pair of `rel` rows that agree on `keys`, with
    * `a.doc_id < b.doc_id`: each unordered doc pair once per shared key
    * occurrence, the sides aliased `a` and `b`. */
  def keyPairs(rel: DataFrame, keys: Seq[String]): DataFrame =
    rel.as("a").join(rel.as("b"),
      keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce[Column](_ && _) &&
        col("a.doc_id") < col("b.doc_id"))

  /** Over distinct (doc_id, keys) rows: (doc_a, doc_b, shared), one row
    * per unordered doc pair sharing a key, `shared` the number of keys
    * both hold. */
  def sharedKeyCounts(sets: DataFrame, keys: Seq[String]): DataFrame =
    keyPairs(sets, keys)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))

  /** Each doc's key count over distinct (doc_id, keys) rows: (doc_id, n).
    * Left unhinted where it is joined: AQE broadcasts it while it fits
    * and degrades to a shuffled join on a corpus whose doc census
    * outgrows the driver. */
  def keySizes(sets: DataFrame): DataFrame =
    sets.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
}
