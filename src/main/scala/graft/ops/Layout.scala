package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators — the 100 TB levers that decide how much
  * data a query has to READ before any operator runs: multi-dimensional
  * Z-order clustering (file-envelope pruning on more than one column)
  * and bucketed co-located joins (the repeated-join shuffle eliminated
  * at write time).
  *
  * Neither changes query RESULTS — they change scan envelopes and
  * exchanges — so their gates pin the part that is relational (the
  * Morton key arithmetic, the per-bucket min/max envelopes, the join
  * output) and `require` the structural part (a shuffle-free join plan)
  * inside the operator itself.
  */
object Layout {

  /** Morton (Z-order) interleave of two non-negative ints, `bits` bits
    * each: bit i of `a` lands at position 2i+1, bit i of `b` at 2i.
    * Values must fit in `bits` bits (callers mask or require). Pure
    * integer bit arithmetic — codegen'd, scan-local, and replayable in
    * any engine with shifts.
    */
  def zorderKey2(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zorderKey2: bad bits $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(
          shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(
          shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
    }
  }

  /** N-dimensional Morton interleave: bit i of column j lands at
    * position `i * n + (n - 1 - j)` (round-robin, first column most
    * significant within each round — the 2-column case reduces to
    * [[zorderKey2]]). Total bits `cols.length * bits` must fit in a
    * long.
    */
  def zorderKey(cols: Seq[Column], bits: Int): Column = {
    val n = cols.length
    require(n >= 2, "zorderKey: need at least 2 columns")
    require(bits >= 1 && n * bits <= 63, s"zorderKey: $n cols x $bits bits")
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(
      shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * n + (n - 1 - j))
    terms.foldLeft(lit(0L))((acc, t) => acc.bitwiseOR(t))
  }

  /** Cluster rows for writing: range-partition by the Z-order key of
    * (aCol, bCol) so each output file's (min, max) envelope covers a
    * small rectangle of BOTH dimensions — point/range predicates on
    * either column then prune most files at planning time, which a
    * single-column sort only provides for its leading column. The
    * sortWithinPartitions keeps per-file row-group envelopes tight too.
    */
  def clusterByZorder(df: DataFrame, aCol: String, bCol: String,
      bits: Int, nPartitions: Int): DataFrame = {
    // a user __z would be overwritten by the interleave-key staging and
    // dropped from the pass-through output — silent column loss
    Ids.requireNoReservedNames("clusterByZorder", "input",
      df.columns.toSeq, Set("__z"), df.sparkSession)
    val z = zorderKey2(col(aCol), col(bCol), bits).as("__z")
    df.withColumn("__z", z)
      .repartitionByRange(nPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** The measurable contract behind [[clusterByZorder]]: bucket the
    * rows into `nBuckets` equal-width key ranges under BOTH layouts —
    * `zorder` (Morton key of the two dims) and `linear` (sort by `aCol`
    * alone) — and report each bucket's (min, max) envelope per
    * dimension. Under zorder every bucket covers a fraction of BOTH
    * domains (≈ 1/√n each for a grid-aligned n); under linear the
    * second dimension's envelope is the full domain in every bucket —
    * exactly why a z-ordered table prunes on either predicate and a
    * sorted table on one. Equal-WIDTH buckets (a shift of the key) keep
    * the whole report scan-local: two aggregations, zero windows, no
    * global sort, replayable in ANSI SQL.
    *
    * Both dims must be non-negative and fit in `bits` bits;
    * `nBuckets` must be a power of four ≤ 4^bits (so the z-bucket
    * boundary cuts whole quadrants and the envelope claim is exact).
    */
  def zorderEnvelopeReport(df: DataFrame, aCol: String, bCol: String,
      bits: Int, nBuckets: Int): DataFrame = {
    require(nBuckets >= 4 && (math.log(nBuckets) / math.log(4)) % 1.0 == 0.0,
      s"zorderEnvelopeReport: nBuckets must be a power of 4: $nBuckets")
    val zShift = 2 * bits - (math.log(nBuckets) / math.log(2)).toInt
    val aShift = bits - (math.log(nBuckets) / math.log(2)).toInt
    require(aShift >= 0, s"nBuckets $nBuckets too large for $bits bits")
    // enforce the interleave precondition loudly (silent aliasing —
    // including sign-extension on negatives — would produce a
    // green-looking but meaningless envelope report); one cheap
    // four-scalar aggregate — this is a diagnostic operator
    val mm = df.agg(min(col(aCol).cast("long")), max(col(aCol).cast("long")),
      min(col(bCol).cast("long")), max(col(bCol).cast("long"))).head()
    require((0 until 4).forall(i => !mm.isNullAt(i)),
      "zorderEnvelopeReport: empty input or all-null dimension")
    val bound = (1L << bits) - 1
    require(mm.getLong(0) >= 0 && mm.getLong(2) >= 0 &&
      mm.getLong(1) <= bound && mm.getLong(3) <= bound,
      s"zorderEnvelopeReport: dims outside [0, $bound] " +
        s"(a in [${mm.get(0)}, ${mm.get(1)}], " +
        s"b in [${mm.get(2)}, ${mm.get(3)}]) — mask or widen bits")
    val z = zorderKey2(col(aCol), col(bCol), bits)
    def report(layout: String, bucket: Column) =
      df.select(bucket.as("bucket"), col(aCol).cast("long").as("a"),
          col(bCol).cast("long").as("b"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("a")).as("min_a"), max(col("a")).as("max_a"),
          min(col("b")).as("min_b"), max(col("b")).as("max_b"))
        .select(lit(layout).as("layout"), col("bucket"), col("n_rows"),
          col("min_a"), col("max_a"), col("min_b"), col("max_b"))
    report("zorder", shiftright(z, zShift)).union(
      report("linear", shiftright(col(aCol).cast("long"), aShift)))
  }

  /** Bucketed co-located join: write both sides bucketed (and
    * per-bucket sorted) on the join key, read them back, and join —
    * the sort-merge join then runs with ZERO shuffle exchanges, which
    * the operator `require`s on the physical plan before returning.
    * This is the write-time amortization every repeatedly-joined
    * 100 TB fact/dimension pair wants: one bucketed write, then every
    * subsequent co-keyed join (and groupBy on the key) skips its
    * exchange forever.
    *
    * `scratch` hosts the table files; both temp catalog entries are
    * replaced if present (re-runnable in one session). The `merge`
    * hint pins sort-merge so a small side can't silently broadcast the
    * gate away.
    */
  def cojoinBucketed(s: SparkSession, left: DataFrame, right: DataFrame,
      key: String, nBuckets: Int, scratch: String,
      leftName: String = "graft_bkt_l",
      rightName: String = "graft_bkt_r"): DataFrame = {
    require(nBuckets >= 1, s"cojoinBucketed: bad nBuckets $nBuckets")
    Seq(leftName -> left, rightName -> right).foreach { case (name, df) =>
      s.sql(s"DROP TABLE IF EXISTS $name")
      df.write.mode("overwrite")
        .bucketBy(nBuckets, key).sortBy(key)
        .option("path", s"$scratch/$name")
        .format("parquet").saveAsTable(name)
    }
    val j = s.table(leftName).join(s.table(rightName).hint("merge"), Seq(key))
    val plan = j.queryExecution.executedPlan.toString
    // ShuffleExchangeExec prints as "Exchange hashpartitioning(...)" —
    // matching "ShuffleExchange" would be vacuous (nodeName is
    // "Exchange"); BroadcastExchange prints with its own prefix, so
    // this string is exactly the shuffle
    require(!plan.contains("Exchange hashpartitioning"),
      s"bucketed cojoin must plan shuffle-free, got:\n$plan")
    require(plan.contains("SortMergeJoin"),
      s"bucketed cojoin must plan a sort-merge join, got:\n$plan")
    j
  }
}
