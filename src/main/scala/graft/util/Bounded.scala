package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, size, when}
import org.apache.spark.sql.types._

/** The bounded-local route: the one owner of the decision to run an
  * operator driver-local (an exact replica over collected rows) or
  * distributed. The paper's master keeps per-job state small and in its
  * own memory; the engine does the same whenever an operator's input
  * fits a fixed share of the driver heap, and takes the distributed plan
  * otherwise — a 100 TB input never touches the driver.
  *
  * Every gated site goes through the same four steps, each owned here:
  *   1. the budget — [[budget]] driver bytes, turned into rows by one
  *      footprint formula ([[rowBytes]]);
  *   2. the id-type rule — only integral ids ([[integral]]), collected
  *      as int64;
  *   3. the bounded collect — `limit(n + 1).collect()`, None past the
  *      bound, None on a null, a duplicate key or a ragged vector
  *      ([[collect]], [[admit]]); pure, so callable from `Par.jobs`;
  *   4. the leaf — the replica's int64 rows back into a plan, cast to
  *      the caller's types ([[leaf]]).
  * A None at any step means "take the distributed path"; the distributed
  * path is always complete on its own. */
object Bounded {

  /** Driver bytes per collected row: `RowOverhead + WordBytes × words`,
    * `words` = the row's int64 values (scalars plus vector elements).
    * Measured with `org.apache.spark.util.SizeEstimator` over 10,000
    * collected rows (JDK 17, compressed oops; `BoundedSpec` re-measures
    * and fails if the formula falls below the estimate):
    *   - k boxed int64 scalars: 76, 100, 132, 156 B for k = 1..4;
    *   - an id plus an int64 vector of width d: 108, 332, 1900 B for
    *     d = 0, 8, 64, i.e. 80 + 28·(1 + d) — the vector reaches the
    *     driver as a Seq of boxed longs, not a primitive array.
    * So a word costs 28 B (the vector slope; the scalars' alternates
    * 24/32 by 8-byte alignment), and the per-row overhead is the vector
    * rows' 80 B intercept plus 16 B of headroom for the estimator's
    * sampling. The replicas' own working arrays (8 B per word) stay well
    * below this, so the collected rows bound the route's driver use. */
  val RowOverhead: Long = 96L
  val WordBytes: Long = 28L

  /** The route budget in driver bytes: `graft.local.max` (system
    * property) or `SPARK_GRAFT_LOCAL_MAX`; by default one eighth of the
    * driver heap (`Runtime.maxMemory / 8`, 256 MB under a 2 GB driver).
    * A value ≤ 0 turns the route off: every operator runs distributed,
    * whatever its input. */
  def budget: Long = sys.props.get("graft.local.max")
    .orElse(sys.env.get("SPARK_GRAFT_LOCAL_MAX"))
    .map(_.trim.toLong)
    .getOrElse(Runtime.getRuntime.maxMemory / 8)

  def enabled: Boolean = budget > 0

  def rowBytes(words: Long): Long = RowOverhead + WordBytes * words

  /** Rows of `words` int64 values that fit in `1/share` of the budget —
    * a site that collects several relations gives each an equal share. */
  def maxRows(words: Long, share: Int = 1): Long = {
    val b = budget
    if (b <= 0) 0L else b / share / rowBytes(words)
  }

  /** The id types a replica accepts: exact as int64, and ordered the
    * same way as their int64 cast (what the trainers sort by). */
  def integral(t: DataType): Boolean = Set[DataType](LongType, IntegerType, ShortType, ByteType)(t)

  /** The driver-local trainers order and collect their sample through
    * `cast(idCol, long)` — exact for every integral id, but a
    * non-numeric string id would silently null out. Fail loudly instead:
    * a deployment with string ids must hash them to int64 first (as the
    * fixtures do), not lose them to a silent null sort key. */
  def requireIntegralId(df: DataFrame, idCol: String, who: String): Unit = {
    val t = df.schema(idCol).dataType
    require(integral(t),
      s"$who: id column '$idCol' must be an integral type (the driver-local " +
        s"trainer orders the sample by cast($idCol as long)); got $t")
  }

  /** Collect `df` for a driver-local replica, or None to go distributed.
    * Every column must be an integral scalar or an array of integral
    * values (else None, before any job); both arrive as int64. One job
    * family: `limit(n + 1).collect()` with n the rows that fit (or `cap`
    * if smaller), so an over-bound input ships at most n + 1 rows. A
    * vector row's width (one width for every vector column) is charged
    * in n before anything ships: the caller's `width`, or else the first
    * row's, read by one `limit(1)` job; a row of any other width ships
    * as a null vector, which
    * [[admit]] rejects. When the caller already counted `df` (`counted`
    * ≥ 0), the count is the gate and the collect is a plain one — the
    * plan it would have run anyway; its vectors are then bounded by the
    * caller's `cap` (the kNN graph's trainer sample) and charged after
    * the collect. The collected rows then pass [[admit]]. */
  def collect(
      df: DataFrame,
      share: Int = 1,
      cap: Long = Long.MaxValue,
      unique: Seq[String] = Nil,
      width: Int = -1,
      counted: Long = -1L): Option[Array[Row]] = {
    if (!enabled) return None
    val fields = df.schema.fields
    def int64(t: DataType): Option[DataType] = t match {
      case t if integral(t) => Some(LongType)
      case ArrayType(e, n) if integral(e) => Some(ArrayType(LongType, n))
      case _ => None
    }
    val types = fields.map(f => int64(f.dataType))
    if (types.exists(_.isEmpty)) return None
    val vecs = fields.filter(_.dataType.isInstanceOf[ArrayType]).map(_.name).toSeq
    val scalars = fields.length - vecs.length
    val w =
      if (counted >= 0 || vecs.isEmpty || width >= 0) width
      else df.where(col(vecs.head).isNotNull).select(size(col(vecs.head)))
        .limit(1).collect().headOption.fold(0)(_.getInt(0))
    val asLong = df.select(fields.toSeq.zip(types).map { case (f, t) =>
      val c = col(f.name).cast(t.get)
      (if (w >= 0 && vecs.contains(f.name)) when(size(c) === w, c) else c).as(f.name) }: _*)
    if (counted >= 0) {
      if (counted > math.min(cap, maxRows(scalars, share))) return None
      return admit(asLong.collect(), share, cap, unique, width)
    }
    val n = math.min(cap, maxRows(scalars + vecs.length * math.max(w, 0L), share))
    admit(asLong.limit(math.min(n, Int.MaxValue - 9L).toInt + 1).collect(),
      share, cap, unique, w)
  }

  /** The shared bail-outs over rows a site collected itself (a trainer's
    * hash-ordered take, a shortlist fetch) or through [[collect]]: None
    * when the rows exceed `cap` or their share of the budget — for rows
    * a site collected itself, vector widths are known only now, so this
    * is where a vector row's footprint is charged (their count was
    * bounded by the trainer sample) — or on a null in any column, a repeated
    * `unique` key, or array columns of differing width (or of a width
    * other than `width` when given). */
  def admit(
      rows: Array[Row],
      share: Int = 1,
      cap: Long = Long.MaxValue,
      unique: Seq[String] = Nil,
      width: Int = -1): Option[Array[Row]] = {
    if (!enabled) return None
    if (rows.isEmpty) return Some(rows)
    if (rows.exists(_.anyNull)) return None
    val schema = rows(0).schema
    val vecs = schema.fields.indices.filter(i => schema(i).dataType.isInstanceOf[ArrayType])
    var words = (schema.length - vecs.length).toLong
    for (i <- vecs) {
      val w = if (width >= 0) width else rows(0).getSeq[Any](i).length
      if (rows.exists(_.getSeq[Any](i).length != w)) return None
      words += w
    }
    if (rows.length > math.min(cap, maxRows(words, share))) return None
    if (unique.nonEmpty) {
      val key = unique.map(schema.fieldIndex)
      if (rows.iterator.map(r => key.map(r.get)).toSet.size != rows.length) return None
    }
    Some(rows)
  }

  /** The replica's all-int64 `rows` as a DataFrame with columns `cols`
    * (name → the caller's type, which the int64 value is cast back to):
    * a bare LocalRelation, which broadcasts into every consumer with no
    * job and no cache entry. How it re-enters the plan is the one
    * decision both round-14 leaf bugs got wrong, so the rule is kept
    * here, and each caller appends its shape:
    *   - nothing, by default;
    *   - `.localCheckpoint(true)` for results joined many times (a kNN
    *     graph feeding a wedge self-join): re-scanning a LocalTableScan
    *     per reference cost 0.2–0.4 s of task time per scan, the
    *     checkpoint pays it once;
    *   - `.coalesce(1)` for results that are written — a LocalRelation
    *     otherwise parallelizes to the session default and the write
    *     pays one parquet writer and one small file per slice. */
  def leaf(
      spark: SparkSession,
      rows: java.util.List[Row],
      cols: Seq[(String, DataType)]): DataFrame = {
    val rel = spark.createDataFrame(rows,
      StructType(cols.map { case (n, _) => StructField(n, LongType, nullable = false) }))
    if (cols.forall(_._2 == LongType)) rel
    else rel.select(cols.map { case (n, t) => col(n).cast(t).as(n) }: _*)
  }

  def leaf(spark: SparkSession, rows: Array[Row], cols: Seq[(String, DataType)]): DataFrame =
    leaf(spark, java.util.Arrays.asList(rows: _*), cols)
}
