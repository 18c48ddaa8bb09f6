package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType}

/** The numeric-id contract shared by every operator that casts an id
  * column to long (tie-breaks, typed stateful streams, integer graph
  * math): the cast must be LOSSLESS. `cast("long")` on e.g. a string id
  * yields null, and downstream that null either silently empties the
  * result (a self-exclusion filter), collapses distinct keys into one,
  * or dies deep inside an encoder with an error naming no column — so
  * operators fail fast HERE with the column and the contract named.
  *
  * The sibling NULL-id contract for SELECTION HASHES (deterministic
  * sample/split/top-k decisions keyed on `md5(id ⧺ salt)`)
  * lives in `Sampling.idStr`: every `Sampling.saltedHash`/`strataHash`
  * call site raises a named in-plan error on a NULL id rather than
  * letting `concat(null, salt)` go null and silently drop the row from
  * every sample. A null STRATUM, by contrast, is a legitimate value
  * and keys its own `__null__` sentinel stratum (documented there).
  *
  * NULL ids elsewhere are a documented CORPUS INVARIANT, not guarded
  * per row: an id comparison evaluates null for a null id, so such a
  * row silently drops out of it — guarding would put a null branch in
  * every hot scan for a row the id contract already declares
  * malformed. Validate ids upstream (the sampling raise catches them
  * in any pipeline that samples or splits first).
  */
private[graft] object Ids {

  /** Types whose `cast("long")` is lossless: the four integrals plus
    * scale-0 decimals that fit a long (JDBC NUMERIC keys arrive as
    * DECIMAL(p,0); p ≤ 18 cannot exceed Long range). Float/double stay
    * rejected — a fractional value would silently truncate, which is
    * the exact lossy class this contract exists to stop; cast
    * explicitly if the values are known integral.
    */
  def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType => d.scale == 0 && d.precision <= 18
    case _ => false
  }

  /** Resolve a user-supplied column name the way Spark's analyzer does:
    * exact match first, then a case-insensitive fallback ONLY when the
    * session resolves case-insensitively (`spark.sql.caseSensitive` is
    * false, the default) — `df.schema(name)` alone is always
    * case-SENSITIVE and rejects names the rest of the same operator
    * happily resolves, while an unconditional fallback would let this
    * guard validate a DIFFERENT column than the analyzer later binds in
    * a case-sensitive session.
    */
  def fieldOf(df: DataFrame, name: String,
      fn: String): org.apache.spark.sql.types.StructField = {
    val caseSensitive = df.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    df.schema.fields.find(_.name == name)
      .orElse(if (caseSensitive) None
        else df.schema.fields.find(_.name.equalsIgnoreCase(name)))
      .getOrElse(throw new IllegalArgumentException(
        s"$fn: no column '$name' in ${df.schema.fieldNames.mkString(", ")}"))
  }

  /** Fail fast when `idCol` is not an integral type. Resolves the
    * column the way Spark does (case-insensitive fallback), so callers
    * that `col(idCol)` accepts are not rejected on case alone.
    */
  def requireIntegralId(df: DataFrame, idCol: String, fn: String): Unit = {
    val field = fieldOf(df, idCol, fn)
    require(isIntegral(field.dataType),
      s"$fn: column '$idCol' must be an integral type (byte/short/int/" +
        s"long, or decimal(<=18,0) — the numeric-id contract), got " +
        s"${field.dataType.simpleString}; " +
        "a lossy cast('long') would null non-numeric values and silently " +
        "corrupt or empty the result. Map ids to longs first (e.g. " +
        "xxhash64 or a dimension table) if they are strings.")
  }

  /** Internal temp-column reservation guard (shared by every
    * pass-through operator that stages state in `withColumn`s it
    * drops before returning): a user column with a staged name is
    * silently OVERWRITTEN and then dropped from the output (silent
    * column loss) — or, when the clashing name is the operator's id or
    * group column, the staging withColumn REPLACES the key mid-plan
    * and the result is silently WRONG rows, not a missing column. Fail
    * at plan build with the rename named. See COVERAGE.md's r12
    * staging-name audit for the per-site dispositions.
    */
  def requireNoReservedNames(fn: String, side: String,
      cols: Seq[String], reserved: Set[String],
      session: org.apache.spark.sql.SparkSession): Unit = {
    // `withColumn` REPLACES case-insensitively under the default
    // spark.sql.caseSensitive=false, so a user '__Z' is overwritten
    // exactly like '__z' — match the resolution mode of the session
    // that OWNS the DataFrame whose columns we check (the staging
    // withColumn resolves against df.sparkSession, not whichever
    // session happens to be thread-active — they differ in a
    // multi-session JVM with divergent spark.sql.caseSensitive, and
    // following the wrong one re-opens the silent-overwrite path this
    // guard exists to close). Callers pass `df.sparkSession`.
    val caseSensitive =
      session.conf.get("spark.sql.caseSensitive", "false").toBoolean
    val clash = cols.filter(c => reserved(c) ||
      (!caseSensitive && reserved.exists(_.equalsIgnoreCase(c))))
    require(clash.isEmpty,
      s"$fn: $side column(s) ${clash.mkString(", ")} collide with " +
        s"reserved internal temp names (${reserved.toSeq.sorted.mkString(", ")})" +
        " — rename them before calling")
  }
}
