package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** As-of (temporal) join: for each left row, attach the most recent right
  * row with the same key and right.time <= left.time.
  *
  * Executed by the custom Catalyst operator (`graft.plans.AsOfJoinPlan` →
  * `AsOfJoinStrategy` → `AsOfJoinExec`): hash-clustered children, a
  * (key, time) sort, and one O(|L|+|R|) merge pass per partition with a
  * single buffered candidate per key — no union, no window state.
  *
  * Ties (right.time == left.time) match, mirroring ASOF JOIN >= semantics;
  * null keys and null times never match (SQL ASOF semantics).
  */
object AsOfJoin {

  /** @param left       fact side (keeps all its columns)
    * @param right      lookup side
    * @param key        equi-key column name present on both sides
    * @param leftTime   event-time column on left
    * @param rightTime  event-time column on right
    * @param rightCols  right columns to carry (renamed as given)
    * @param inner      drop left rows with no prior right match
    *
    * Needs a session built by [[graft.Engine.builder]]: its
    * `spark.sql.extensions=graft.functions.GraftExtensions` injects the
    * strategy that plans the node, and any other session is refused. */
  def asof(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      rightCols: Map[String, String], inner: Boolean = true): DataFrame = {
    import graft.plans.{AsOfJoinPlan, AsOfJoinStrategy}
    import org.apache.spark.sql.graft.DatasetBridge
    val spark = left.sparkSession
    // without the strategy the node fails much later, at planning, with
    // no hint at the cause
    require(spark.sessionState.planner.strategies.contains(AsOfJoinStrategy),
      "AsOfJoin.asof needs a session built by graft.Engine.builder " +
        "(spark.sql.extensions=graft.functions.GraftExtensions)")
    // no analyzer coercion runs on a hand-built node: mismatched key/time
    // types would otherwise surface as executor-side ClassCastExceptions
    // (or worse, different hash partitionings per side)
    def requireSameType(what: String, l: String, r: String): Unit = {
      val lt = left.schema(l).dataType
      val rt = right.schema(r).dataType
      require(org.apache.spark.sql.types.DataType.equalsStructurally(
          lt, rt, ignoreNullability = true),
        s"asof $what types differ: left $l is $lt, right $r is $rt")
    }
    requireSameType("key", key, key)
    requireSameType("time", leftTime, rightTime)
    // payload attributes are resolved by name after the projection below,
    // so a target name colliding with the internal aliases (or another
    // target) would silently bind the wrong attribute — fail loudly instead
    val targets = rightCols.values.toSeq
    require(targets.distinct.size == targets.size,
      s"asof rightCols target names must be distinct: $targets")
    require(!targets.exists(Set("_r_k", "_r_t")),
      s"asof rightCols targets may not use reserved names _r_k/_r_t: $targets")
    // fresh-alias the right side so the node's output attribute ids are
    // disjoint from the left's even on a self-as-of (both frames derived
    // from one scan — the exact shape of the reference's usage)
    val rightProj = right.select(
      col(key).as("_r_k") +: col(rightTime).as("_r_t") +:
        rightCols.map { case (from, to) => col(from).as(to) }.toSeq: _*)
    val lPlan = DatasetBridge.analyzed(left)
    val rPlan = DatasetBridge.analyzed(rightProj)
    val lOut = lPlan.output
    val rOut = rPlan.output
    def attr(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
        name: String) = out.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"column $name not found"))
    val payload = rightCols.values.toSeq.map(attr(rOut, _))
    DatasetBridge.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan,
        attr(lOut, key), attr(lOut, leftTime),
        attr(rOut, "_r_k"), attr(rOut, "_r_t"),
        payload, inner))
  }
}
