package graft.lake

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, Encoders, Row, SparkSession, functions}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import TxLog.{Add, Meta, Snapshot}

/** The one data-skipping evaluator — Delta's `DataSkippingReader`
  * shape. Every "can this file hold a matching row?" decision of the
  * lake is ONE Catalyst rewrite of the predicate into a keep expression
  * over a file's flattened [[TxLog.Add]] fields:
  *
  *   - the predicate splits into conjuncts; a conjunct `c op v` with
  *     `op` one of `=`, `<=>`, `<`, `<=`, `>`, `>=` (the non-null value
  *     `v` on either side), or `c IN (v, ...)` / `InSet`, becomes the
  *     same comparison against `stats[phys].min/max` cast to the
  *     column's type — the column bare or inside a numeric up-cast
  *     of an integral column, which is monotone, so the min/max images
  *     bound it;
  *   - a file without stats for the column is judged by its partition
  *     value instead; a file with neither is kept;
  *   - any other conjunct keeps every file.
  *
  * Spark evaluates that one expression on both paths: as a `Column`
  * over the checkpoint ([[TxLog.prunedSnapshot]]'s distributed path),
  * and per file on the driver through `InterpretedPredicate` — no Spark
  * job, no class generated per literal. So both paths order values
  * exactly as the query's own filter does: strings by UTF-8 bytes, NaN
  * above every double, -0.0 equal to 0.0. Point conjuncts then probe
  * each surviving file's bloom sidecar on the driver.
  */
private[lake] object TxSkipping {

  private val DefaultPartition = "__HIVE_DEFAULT_PARTITION__"
  private val integral: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  // ---- the rewrite ----

  /** One handled conjunct over attribute `a`: its column operand
    * `side` (`a` or an up-cast of it), the point values of an
    * equality/IN (empty for a range), and `may(lo, hi)` — can some
    * value whose image lies in [lo, hi] satisfy the conjunct? */
  private final case class Bound(a: AttributeReference, side: Expression,
      points: Seq[Literal], may: (Expression, Expression) => Expression)

  /** Column types whose file values order by Spark's own comparison of
    * their stats or partition values: the stat-carrying kinds, and
    * decimals (partition values only — decimals carry no stats). */
  def skippable(dt: DataType): Boolean =
    TxTable.statKind(dt).isDefined || dt.isInstanceOf[DecimalType]

  private object Col {
    def unapply(e: Expression): Option[(Expression, AttributeReference)] =
      e match {
        case a: AttributeReference if skippable(a.dataType) =>
          Some((a, a))
        // numeric targets only: Spark also up-casts any atomic type to
        // a string, and int-to-string is not monotone ("10" < "9")
        case Cast(a: AttributeReference, t: NumericType, _, _)
            if integral(a.dataType) && Cast.canUpCast(a.dataType, t) =>
          Some((e, a))
        case _ => None
      }
  }

  /** A foldable non-null operand, evaluated once. */
  private object Value {
    def unapply(e: Expression): Option[Literal] =
      if (!e.foldable) None
      else Try(e.eval()).toOption.filter(_ != null)
        .map(Literal(_, e.dataType))
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x         => Seq(x)
  }

  private def pointMay(v: Literal)(lo: Expression, hi: Expression) =
    And(LessThanOrEqual(lo, v), GreaterThanOrEqual(hi, v))

  /** A balanced OR: a long IN list stays a shallow tree. */
  private def anyOf(es: Seq[Expression]): Expression =
    if (es.size == 1) es.head
    else {
      val (l, r) = es.splitAt(es.size / 2)
      Or(anyOf(l), anyOf(r))
    }

  private def bound(c: Expression): Option[Bound] = {
    def point(side: Expression, a: AttributeReference,
        vs: Seq[Literal]): Option[Bound] =
      if (vs.isEmpty || vs.exists(_.dataType != side.dataType)) None
      else Some(Bound(a, side, vs,
        (lo, hi) => anyOf(vs.map(pointMay(_)(lo, hi)))))
    // `c < v` holds somewhere in [lo, hi] iff it holds at lo; `c > v`
    // iff at hi — and mirrored with the value on the left
    def below(c: Expression) =
      c.isInstanceOf[LessThan] || c.isInstanceOf[LessThanOrEqual]
    c match {
      case EqualTo(Col(s, a), Value(v)) => point(s, a, Seq(v))
      case EqualTo(Value(v), Col(s, a)) => point(s, a, Seq(v))
      case EqualNullSafe(Col(s, a), Value(v)) => point(s, a, Seq(v))
      case EqualNullSafe(Value(v), Col(s, a)) => point(s, a, Seq(v))
      case In(Col(s, a), vs) =>
        val lits = vs.flatMap(Value.unapply)
        if (lits.size == vs.size) point(s, a, lits) else None
      case InSet(Col(s, a), hs) if !hs.contains(null) =>
        point(s, a, hs.toSeq.map(Literal(_, s.dataType)))
      case b: BinaryComparison => (b.left, b.right) match {
        case (Col(s, a), Value(v)) if v.dataType == s.dataType =>
          Some(Bound(a, s, Nil, (lo, hi) =>
            b.withNewChildren(Seq(if (below(b)) lo else hi, v))))
        case (Value(v), Col(s, a)) if v.dataType == s.dataType =>
          Some(Bound(a, s, Nil, (lo, hi) =>
            b.withNewChildren(Seq(v, if (below(b)) hi else lo))))
        case _ => None
      }
      case _ => None
    }
  }

  private val statType = Encoders.product[TxLog.Stat].schema

  /** `b`'s keep over the flattened Add fields `stats` and
    * `partitionValues` (unresolved by name, bound per evaluator):
    * stats when the file has them for the column, else its partition
    * value; an unparseable value (null image) keeps the file.
    *
    * A double column's value string may be a float's: a column widened
    * from float keeps its old files' stats as the float's shortest
    * string ("1.1"), which reads back as 1.100000023841858, not 1.1. So
    * a double's lower image is the least, and its upper image the
    * greatest, of both readings — pruning widens, never narrows. */
  private def keepOf(b: Bound, physOf: String => String)(
      may: (Expression, Expression) => Expression): Expression = {
    val phys = physOf(b.a.name)
    def image(v: Expression, lower: Boolean): Expression = {
      def tryCast(e: Expression, t: DataType) = Cast(e, t, None, EvalMode.TRY)
      val typed = b.a.dataType match {
        case StringType => v
        case DoubleType =>
          val both = Seq(tryCast(v, DoubleType),
            tryCast(tryCast(v, FloatType), DoubleType))
          if (lower) Least(both) else Greatest(both)
        case t => tryCast(v, t)
      }
      b.side match {
        case c: Cast => c.withNewChildren(Seq(typed))
        case _       => typed
      }
    }
    def orKeep(e: Expression) = Coalesce(Seq(e, Literal.TrueLiteral))
    val st = GetMapValue(UnresolvedAttribute.quoted("stats"), Literal(phys))
    def stat(f: String) =
      image(GetStructField(st, statType.fieldIndex(f), Some(f)), f == "min")
    val pv = GetMapValue(UnresolvedAttribute.quoted("partitionValues"),
      Literal(phys))
    If(IsNotNull(st), orKeep(may(stat("min"), stat("max"))),
      If(And(IsNotNull(pv), Not(EqualTo(pv, Literal(DefaultPartition)))),
        orKeep(may(image(pv, lower = true), image(pv, lower = false))),
        Literal.TrueLiteral))
  }

  /** The keep expression over one Add's flattened fields: every handled
    * conjunct's keep. `physOf` maps an attribute's name to the physical
    * name its stats and partition value are keyed by. */
  private def keep(bounds: Seq[Bound], physOf: String => String) =
    bounds.map(b => keepOf(b, physOf)(b.may))
      .reduceOption[Expression](And).getOrElse(Literal.TrueLiteral)

  // ---- resolution ----

  /** `cond` analyzed against `meta`'s logical schema plus `_row_id` (no
    * scan is planned); None when it does not resolve. */
  private def resolve(spark: SparkSession, meta: Meta, cond: Column)
      : Option[Expression] = {
    val fields = meta.schema.fields ++
      (if (meta.schema.fieldNames.contains(TxFileIndex.RowIdCol)) Nil
       else Seq(StructField(TxFileIndex.RowIdCol, LongType)))
    Try(spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(fields)).where(cond).queryExecution.analyzed)
      .toOption.flatMap(_.collectFirst { case f: Filter => f.condition })
  }

  /** The keep of a logical `cond` over `meta`'s table, as a `Column` for
    * [[TxLog.prunedSnapshot]]'s distributed filter — carried over as
    * the expression's SQL text, the public route from a Catalyst
    * expression to a `Column`. */
  def column(spark: SparkSession, meta: Meta, cond: Column): Column =
    functions.expr(keep(resolve(spark, meta, cond).toSeq
      .flatMap(conjuncts).flatMap(bound), meta.physicalOf).sql)

  // ---- the driver evaluator ----

  private val rowSchema = {
    val add = Encoders.product[Add].schema
    StructType(Seq(add("partitionValues"), add("stats")))
  }
  private val toRow =
    CatalystTypeConverters.createToCatalystConverter(rowSchema)

  /** The two Add fields the keep reads, as a Catalyst row. */
  private def row(a: Add): InternalRow =
    toRow(Row(a.partitionValues, a.stats.map { case (k, s) =>
      k -> Row(s.kind, s.min, s.max, null, null) })).asInstanceOf[InternalRow]

  private def interpreted(e: Expression): InterpretedPredicate =
    InterpretedPredicate(e.transform { case u: UnresolvedAttribute =>
      val i = rowSchema.fieldIndex(u.name)
      BoundReference(i, rowSchema(i).dataType, nullable = true)
    })

  /** `mayHold(a)`: can file `a` hold a row satisfying `pred`? The keep
    * evaluated by Catalyst's interpreter, then — for point conjuncts on
    * the bare column or an integral widening of it — the file's bloom
    * sidecar: some point value must pass both its own keep and the
    * bloom. `root` anchors the sidecar paths. */
  def keeper(spark: SparkSession, root: Path, pred: Expression,
      physOf: String => String): Add => Boolean = {
    val bounds = conjuncts(pred).flatMap(bound)
    if (bounds.isEmpty) return _ => true
    val all = interpreted(keep(bounds, physOf))
    val probes = bounds.filter(b => b.points.nonEmpty && (b.side match {
      case c: Cast => integral(c.dataType)
      case _       => true
    })).map { b =>
      (physOf(b.a.name), b.points.map(v =>
        (hashForBloom(b.a.dataType, v),
          interpreted(keepOf(b, physOf)(pointMay(v))))))
    }
    lazy val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    a => {
      val r = row(a)
      all.eval(r) && probes.forall { case (phys, vs) =>
        a.bloom.flatMap(_.get(phys)).forall { rel =>
          val bf = bloomAt(fs, new Path(root, rel))
          vs.exists { case (h, k) => k.eval(r) && bf.mightContainLong(h) }
        }
      }
    }
  }

  /** [[keeper]] for a logical `cond` over `meta`'s table; keeps every
    * file when `cond` does not resolve. */
  def keeper(spark: SparkSession, root: Path, meta: Meta,
      cond: Column): Add => Boolean =
    resolve(spark, meta, cond).fold[Add => Boolean](_ => true)(
      keeper(spark, root, _, meta.physicalOf(_)))

  /** `snap`'s files that may hold a row satisfying the logical `cond`. */
  def files(spark: SparkSession, root: Path, snap: Snapshot,
      cond: Column): Vector[Add] =
    snap.adds.filter(keeper(spark, root, snap.meta, cond))

  /** The state at `asOf` with `adds` restricted to `cond`'s candidate
    * files: pruned by [[column]] over the checkpoint when the live set
    * is large and `distributed` holds, folded in memory otherwise;
    * [[files]] on the driver either way. */
  def snapshot(spark: SparkSession, root: Path, asOf: Option[Long],
      cond: Column, distributed: Boolean = true): Snapshot = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val s =
      if (distributed)
        TxLog.prunedSnapshot(fs, root, asOf, column(spark, _, cond))
      else {
        val all = TxLog.snapshot(fs, root, asOf)
        TxLog.lastResolve.set(("driver-fold", all.adds.size.toLong))
        all
      }
    s.copy(adds = files(spark, root, s, cond))
  }

  // ---- bloom sidecars ----

  /** Bloom hashing is WIDTH-NORMALIZED on both build and probe sides:
    * integral values hash as LONG, floats as DOUBLE — `xxhash64` of
    * int 5 and long 5 differ, so without the normalization a
    * metadata-only TYPE WIDENING (int→long) would turn every
    * pre-widening sidecar into a false-negative machine: files wrongly
    * skipped, rows silently missing. With it, sidecars survive
    * widening untouched. */
  def bloomNormType(dt: DataType): DataType = dt match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case FloatType | DoubleType => DoubleType
    case other => other
  }

  /** Driver-side twin of the build path's normalized `xxhash64`: the
    * probe value casts to the column's WIDTH-NORMALIZED type first. */
  private def hashForBloom(dt: DataType, v: Literal): Long = {
    val norm = bloomNormType(dt)
    val casted = if (v.dataType == norm) v else Cast(v, norm, Some("UTC"))
    // seed 42 = the default the `xxhash64` SQL function builds with
    XxHash64(Seq(casted), 42L).eval(null).asInstanceOf[Long]
  }

  /** Process-wide LRU of deserialized bloom sidecars, keyed by absolute
    * sidecar path. Safe because sidecars are IMMUTABLE UUID-named files
    * (a new index writes a new file; vacuum deletes, never rewrites) —
    * an entry can go unreachable, never stale. Bounded so a long-lived
    * driver over many tables cannot grow without limit; one filter is
    * a few hundred KB at the default fpp, so 256 entries is tens of MB.
    * A multi-key lookup pays each sidecar's IO and deserialization
    * once, not once per key.
    */
  private val bloomCache =
    new java.util.LinkedHashMap[String, BloomFilter](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, BloomFilter]): Boolean = size() > 256
    }

  /** The sidecar at `p`, deserialized once per process. */
  private def bloomAt(fs: FileSystem, p: Path): BloomFilter =
    bloomCache.synchronized {
      Option(bloomCache.get(p.toString)).getOrElse {
        val in = fs.open(p)
        val bf = try BloomFilter.readFrom(in) finally in.close()
        bloomCache.put(p.toString, bf)
        bf
      }
    }
}
