package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The driver-finish policy of the iterative operators
  * ([[ConnectedComponents]], [[CenterClustering]],
  * [[Linkage.greedyMatches]] (which [[Linkage.groupLinkage]] runs on
  * group-scoped struct ids), [[GraphMetrics.coreNumbers]],
  * [[GraphMetrics.trussEdges]], [[PivotClustering]]'s MIS,
  * [[BlockingSelection]]). Each of them has
  * distributed rounds that are proven equal to an in-memory algorithm
  * (a sequential scan, a union-find, a peel); once the remaining
  * frontier is small, it collects the frontier and runs that algorithm
  * on the driver instead of the tail of per-round fixed costs. The
  * result must not depend on whether, or when, the finish fires.
  *
  *  - Gate: [[cap]] reads a row cap from `graft.<key>` or
  *    `spark.graft.<key>` (default 1M rows; 0 disables the finish). An
  *    operator finishes on the driver only when the rows it would
  *    collect number at most the cap ([[fits]], [[fitsHashed]],
  *    [[collected]]), so the collect is bounded by configuration, never
  *    by the data.
  *  - Order: a replay that sorts compares values as Spark SQL's ORDER BY
  *    does ([[ordering]], [[rowOrdering]]) — strings by code point (the
  *    UTF-8 byte order), doubles with -0.0 == 0.0 and NaN last, structs
  *    field by field, nulls first ascending and last descending — so its
  *    tie-breaks are the rounds' window tie-breaks. A type without a
  *    comparator here keeps the operator on its distributed rounds.
  *  - Equality: a replay that hashes collected values passes its gate
  *    through [[fitsHashed]] or [[collected]], which fire only for types
  *    whose JVM equality is SQL equality ([[hashable]]); other types keep
  *    the operator on its distributed rounds too.
  *  - Hand-back: the driver's rows return as a DataFrame ([[frame]]) in
  *    the caller's schema.
  *
  * Each operator keeps only its in-memory algorithm and the argument for
  * why it equals the rounds. */
private[operators] object DriverFinish {

  val DefaultCap = 1000000L

  /** The row cap under conf `key`; a value that is not a row count ≥ 0
    * is rejected with the offending key. */
  def cap(spark: SparkSession, key: String): Long =
    Seq(s"graft.$key", s"spark.graft.$key").iterator
      .flatMap(k => spark.conf.getOption(k).map(k -> _))
      .nextOption()
      .fold(DefaultCap) { case (k, v) =>
        val n = v.toLongOption.filter(_ >= 0)
        require(n.isDefined,
          s"$k must be a row count >= 0 (0 disables the driver finish), got '$v'")
        n.get
      }

  /** The gate: the finish is on and `rows` fit under the cap. `rows` is
    * evaluated only when the finish is on, so a disabled finish costs no
    * count. */
  def fits(cap: Long, rows: => Long): Boolean = cap > 0 && rows <= cap

  /** The gate of a replay that hashes the values of `df`'s columns
    * `hashed`: [[fits]], and every such column's type is [[hashable]]. */
  def fitsHashed(df: DataFrame, hashed: Seq[String], cap: Long,
      rows: => Long): Boolean =
    hashed.forall(c => hashable(df.schema(c).dataType)) && fits(cap, rows)

  /** The bounded collect: `df`'s rows when they pass [[fitsHashed]]. */
  def collected(df: DataFrame, hashed: Seq[String],
      cap: Long): Option[Array[Row]] =
    if (fitsHashed(df, hashed, cap, df.count())) Some(df.collect()) else None

  /** Spark SQL's ascending order over one type's values, nulls first;
    * None for types no replay sorts. Boolean, date, timestamp and decimal
    * values are `Comparable` on the JVM in their SQL order; a struct
    * compares its fields in order, each nulls first, and has an ordering
    * when every field has one. */
  def ordering(dt: DataType): Option[Ordering[Any]] = {
    val cmp: Option[(Any, Any) => Int] = dt match {
      case LongType | IntegerType | ShortType | ByteType => Some((x, y) =>
        java.lang.Long.compare(x.asInstanceOf[Number].longValue,
          y.asInstanceOf[Number].longValue))
      case DoubleType | FloatType => Some((x, y) => {
        val (a, b) = (x.asInstanceOf[Number].doubleValue,
          y.asInstanceOf[Number].doubleValue)
        if (a == b) 0 else java.lang.Double.compare(a, b)
      })
      case StringType => Some((x, y) =>
        codePointCompare(x.asInstanceOf[String], y.asInstanceOf[String]))
      case BooleanType | DateType | TimestampType | TimestampNTZType |
          _: DecimalType => Some((x, y) =>
        x.asInstanceOf[Comparable[Any]].compareTo(y))
      case st: StructType =>
        val fs = st.fields.map(f => ordering(f.dataType))
        if (fs.exists(_.isEmpty)) None
        else {
          val fields = lexicographic(fs.flatten, fs.indices.toArray)
          Some((x, y) => fields.compare(x.asInstanceOf[Row], y.asInstanceOf[Row]))
        }
      case _ => None
    }
    cmp.map[Ordering[Any]](c => (x, y) =>
      if (x == null) { if (y == null) 0 else -1 }
      else if (y == null) 1
      else c(x, y))
  }

  /** Whether JVM equality of one type's collected values is SQL
    * equality, so a replay may hash them: integral, string, boolean, date
    * and timestamp values, and structs of such fields (a `Row` equals
    * another when their fields are equal). Binary values are arrays
    * compared by reference and a NaN double never equals itself, while
    * SQL joins match both. */
  private def hashable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType |
        BooleanType | DateType | TimestampType | TimestampNTZType => true
    case st: StructType => st.fields.forall(f => hashable(f.dataType))
    case _ => false
  }

  /** Sort direction of one [[rowOrdering]] key. */
  sealed trait Direction
  case object Asc extends Direction
  case object Desc extends Direction

  /** Spark SQL's ORDER BY over collected rows of `schema`: keys are
    * column names with their direction. None when a key's type has no
    * [[ordering]]. */
  def rowOrdering(schema: StructType,
      keys: (String, Direction)*): Option[Ordering[Row]] = {
    val idx = keys.map { case (name, _) => schema.fieldIndex(name) }.toArray
    val ords = keys.zip(idx).map { case ((_, dir), i) =>
      ordering(schema(i).dataType).map(o => if (dir == Desc) o.reverse else o)
    }
    if (ords.exists(_.isEmpty)) None
    else Some(lexicographic(ords.flatten.toArray, idx))
  }

  /** Rows compared on fields `idx`, the k-th by `os(k)`, first difference
    * wins. */
  private def lexicographic(os: Array[Ordering[Any]],
      idx: Array[Int]): Ordering[Row] = (x, y) => {
    var c = 0
    var k = 0
    while (c == 0 && k < os.length) {
      c = os(k).compare(x.get(idx(k)), y.get(idx(k)))
      k += 1
    }
    c
  }

  /** The hand-back: driver rows as a DataFrame of `schema`, over
    * `slices` partitions (default: the context's default parallelism). */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row],
      slices: Int = 0): DataFrame = {
    val n =
      if (slices > 0) slices else math.max(1, spark.sparkContext.defaultParallelism)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, n), schema)
  }

  /** Code point order of two strings, which is the order of their UTF-8
    * bytes. At the first differing UTF-16 unit, surrogates (U+D800–DFFF,
    * which only encode code points above U+FFFF) are lifted above
    * U+E000–FFFF; everywhere else unit order is code point order. */
  private def codePointCompare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a.charAt(i)
      val y = b.charAt(i)
      if (x != y) return lift(x) - lift(y)
      i += 1
    }
    a.length - b.length
  }

  private def lift(c: Char): Int =
    if (c >= 0xE000) c - 0x800
    else if (c >= 0xD800) c + 0x2000
    else c
}
