package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File-level data skipping over GraftTable per-file stats — our stand-in for
  * Delta's `OptimisticTransaction.filterFiles` / `filesWithStatsForScan`
  * data-skipping machinery that the reference introspects
  * (`DeltaHelpers.scala:109-194`, SURVEY §2.3 S8/S9).
  *
  * The predicate work is pure public Catalyst: parse with `functions.expr`,
  * resolve against the table's analyzed plan, split conjuncts, pattern-match
  * comparison classes. Evaluation then runs driver-side over the snapshot's
  * `AddFile` entries (O(files) metadata, no data scan) — files whose
  * [min,max]/partition-value ranges cannot satisfy a conjunct are pruned
  * before the scan DF is even constructed. At 100 TB this is the difference
  * between reading 3 files and 30,000.
  */
object FileSkipping {

  /** Buckets of a condition's conjuncts, mirroring the reference's
    * classification (`DeltaHelpers.scala:156-191`): min/max-comparable
    * (`> >= < <=`), equality (`= <=>`), left-over (other resolved, e.g. LIKE),
    * and removed/unresolved attribute names.
    */
  case class ClassifiedCondition(
      all: Seq[Expression],
      minMax: Seq[Expression],
      equals: Seq[Expression],
      leftOver: Seq[Expression],
      unresolvedColumns: Seq[String],
      /** Conjuncts mixing resolved (plan) and unresolved (foreign, e.g. merge
        * source) references — the raw material for dynamic file pruning.
        */
      partiallyResolved: Seq[Expression] = Nil
  )

  /** Parse + resolve `condition` against `df`'s plan and classify conjuncts. */
  def classify(spark: SparkSession, df: DataFrame, condition: String): ClassifiedCondition =
    classify(spark, df.queryExecution.analyzed, condition)

  /** [[classify]] against a table `schema` — the one an operation already
    * resolved, so classifying needs no DataFrame of the table (and no
    * second resolution of it). `alias` qualifies the columns, as a MERGE
    * target's `t.col` references need.
    */
  def classify(spark: SparkSession, schema: StructType, condition: String,
      alias: Option[String] = None): ClassifiedCondition =
    classify(spark, LocalRelation(DataTypeUtils.toAttributes(schema)
      .map(_.withQualifier(alias.toSeq))), condition)

  private def classify(spark: SparkSession, plan: LogicalPlan, condition: String): ClassifiedCondition = {
    val parsed = spark.sessionState.sqlParser.parseExpression(condition)
    val resolved0 = spark.sessionState.analyzer.resolveExpressionByPlanOutput(parsed, plan)
    // CONSTANT-FOLD foldable subtrees (CAST('0.1' AS FLOAT), literal
    // arithmetic, typed-literal coercions): the band extractors match bare
    // Literals, and an unfolded cast would conservatively disable pruning
    // for exactly the typed predicates users write; the optimized scan
    // path sees folded filters, so this keeps classify() equivalent
    val resolved = resolved0.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] &&
          e.resolved && !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression] =>
        try Literal.create(e.eval(org.apache.spark.sql.catalyst.InternalRow.empty), e.dataType)
        catch { case scala.util.control.NonFatal(_) => e } // ANSI eval error: keep unfolded
    }
    val unresolvedCols = resolved.references.collect {
      case u: UnresolvedAttribute => u.name
    }.toSeq

    val conjuncts = splitConjuncts(resolved)
    val (resolvedConjuncts, withUnresolved) =
      conjuncts.partition(_.references.forall(!_.isInstanceOf[UnresolvedAttribute]))
    val partiallyResolved = withUnresolved.filter(
      _.references.exists(!_.isInstanceOf[UnresolvedAttribute]))

    val minMax = resolvedConjuncts.filter {
      case _: GreaterThan | _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual => true
      case _ => false
    }
    val equals = resolvedConjuncts.filter {
      case _: EqualTo | _: EqualNullSafe => true
      case _ => false
    }
    val leftOver = resolvedConjuncts.diff(minMax).diff(equals)
    ClassifiedCondition(resolvedConjuncts, minMax, equals, leftOver, unresolvedCols,
      partiallyResolved)
  }

  def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  /** Files of `snap` that MIGHT satisfy all `predicates` (conservative:
    * a file is kept unless a conjunct provably excludes it). Contradictory
    * range conjuncts (e.g. `id <= 10 AND id >= 12`) select zero files — the
    * per-column intervals of all conjuncts are intersected first.
    *
    * `bloom` (a [[BloomIndex.ProbeContext]]) lets equality conjuncts consult
    * the table's per-file bloom sidecars, loaded lazily for the probed
    * columns only; `None` skips bloom probing (min/max and partition pruning
    * are unaffected) — for callers operating on bare snapshots with no table
    * location in hand.
    */
  def filesMatching(
      snap: Snapshot,
      predicates: Seq[Expression],
      bloom: Option[BloomIndex.ProbeContext]): Seq[AddFile] = {
    if (predicates.isEmpty) return snap.files
    val schema = snap.schema
    if (contradictory(predicates, schema)) return Nil
    val partCols = snap.metadata.partitionColumns.toSet
    snap.files.filter { f =>
      val stats = GraftLog.parseStats(f.stats)
      predicates.forall(p => mightMatch(p, f, stats, schema, partCols, bloom))
    }
  }

  /** True when the conjuncts' per-column intervals have an empty intersection. */
  /** The dotted LOGICAL path of a column reference — a bare attribute, or a
    * GetStructField chain over one (`s.a.x`): nested struct leaves carry
    * per-file stats too (struct-only paths — one value per row — indexed by
    * [[ParquetStats]]), so predicates on them prune files exactly like
    * top-level predicates. Anything else (array/map extraction, casts,
    * arithmetic) returns None → conservative no-prune.
    */
  private object PathRef {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case g: GetStructField => unapply(g.child).map(_ + "." + g.extractFieldName)
      case _ => None
    }
  }

  /** Canonical-value comparison — ONE definition for every skipping
    * surface (interval contradiction, band checks): longs, doubles,
    * UTF-8-ordered strings, booleans, and exact BigDecimals. None =
    * incomparable → conservative no-prune.
    */
  private[tables] def cmpCanonical(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long)       => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double)   => Some(java.lang.Double.compare(x, y))
    case (x: String, y: String)   => Some(Utf8Order.compare(x, y)) // Spark/parquet order, NOT UTF-16
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case (x: scala.math.BigDecimal, y: scala.math.BigDecimal) => Some(x.compare(y))
    // CROSS-TYPE exactness: a decimal literal against a double/long
    // column's stats compares through BigDecimal (a double's binary
    // expansion converts exactly) — lossy double rounding on the decimal
    // side is what the BigDecimal canonicalization exists to avoid
    case (x: scala.math.BigDecimal, y: Double) => Some(x.compare(scala.math.BigDecimal(y)))
    case (x: Double, y: scala.math.BigDecimal) => Some(scala.math.BigDecimal(x).compare(y))
    case (x: scala.math.BigDecimal, y: Long) => Some(x.compare(scala.math.BigDecimal(y)))
    case (x: Long, y: scala.math.BigDecimal) => Some(scala.math.BigDecimal(x).compare(y))
    case _                        => None
  }

  private[graft] def contradictory(predicates: Seq[Expression], schema: StructType): Boolean = {
    // (value, inclusive) bounds per column
    val lo = scala.collection.mutable.Map.empty[String, (Any, Boolean)]
    val hi = scala.collection.mutable.Map.empty[String, (Any, Boolean)]
    def cmp(a: Any, b: Any): Option[Int] = cmpCanonical(a, b)
    def tightenLo(name: String, v: Any, incl: Boolean): Unit =
      lo.get(name) match {
        case Some((cur, curIncl)) =>
          cmp(v, cur).foreach { c =>
            if (c > 0 || (c == 0 && !incl && curIncl)) lo(name) = (v, incl)
          }
        case None => lo(name) = (v, incl)
      }
    def tightenHi(name: String, v: Any, incl: Boolean): Unit =
      hi.get(name) match {
        case Some((cur, curIncl)) =>
          cmp(v, cur).foreach { c =>
            if (c < 0 || (c == 0 && !incl && curIncl)) hi(name) = (v, incl)
          }
        case None => hi(name) = (v, incl)
      }
    def record(e: Expression): Unit = e match {
      case EqualTo(PathRef(n), Literal(v, dt)) =>
        canonical(v, dt).foreach { c => tightenLo(n, c, incl = true); tightenHi(n, c, incl = true) }
      case EqualTo(l: Literal, a @ PathRef(_)) => record(EqualTo(a, l))
      case GreaterThan(PathRef(n), Literal(v, dt)) =>
        canonical(v, dt).foreach(tightenLo(n, _, incl = false))
      case GreaterThanOrEqual(PathRef(n), Literal(v, dt)) =>
        canonical(v, dt).foreach(tightenLo(n, _, incl = true))
      case LessThan(PathRef(n), Literal(v, dt)) =>
        canonical(v, dt).foreach(tightenHi(n, _, incl = false))
      case LessThanOrEqual(PathRef(n), Literal(v, dt)) =>
        canonical(v, dt).foreach(tightenHi(n, _, incl = true))
      case GreaterThan(l: Literal, a @ PathRef(_)) => record(LessThan(a, l))
      case GreaterThanOrEqual(l: Literal, a @ PathRef(_)) => record(LessThanOrEqual(a, l))
      case LessThan(l: Literal, a @ PathRef(_)) => record(GreaterThan(a, l))
      case LessThanOrEqual(l: Literal, a @ PathRef(_)) => record(GreaterThanOrEqual(a, l))
      case _ => ()
    }
    predicates.foreach(record)
    lo.exists { case (name, (lv, lIncl)) =>
      hi.get(name).exists { case (hv, hIncl) =>
        cmp(lv, hv).exists(c => c > 0 || (c == 0 && !(lIncl && hIncl)))
      }
    }
  }

  /** Conservative per-file evaluation of one conjunct. */
  private[graft] def mightMatch(
      p: Expression,
      f: AddFile,
      stats: Option[FileStats],
      schema: StructType,
      partCols: Set[String],
      bloomCtx: Option[BloomIndex.ProbeContext]): Boolean = {

    def fieldOf(name: String): Option[org.apache.spark.sql.types.StructField] =
      ColumnMapping.fieldChain(schema, name.split('.').toSeq).map(_.last)

    def colType(name: String): Option[DataType] = fieldOf(name).map(_.dataType)

    /** Stats / partition-value / bloom lookup key of a LOGICAL column name
      * (or dotted nested path): its PHYSICAL spelling under column mapping.
      * Looking up by the logical name is not merely a missed prune — a
      * re-added column reusing a renamed-away logical name would read the
      * OLD column's stats and prune WRONG files.
      */
    def statKey(name: String): String =
      ColumnMapping.physicalPath(schema, name.split('.').toSeq).getOrElse(name)

    // (attribute path, literal, true when literal is on the right)
    def sides(l: Expression, r: Expression): Option[(String, Any, DataType, Boolean)] = (l, r) match {
      case (PathRef(name), Literal(v, dt)) => Some((name, v, dt, true))
      case (Literal(v, dt), PathRef(name)) => Some((name, v, dt, false))
      case _ => None
    }

    /** Range of the column within this file: partition value (point range) or
      * stats min/max. None = unknown → cannot prune.
      */
    def range(name: String): Option[(Any, Any)] = {
      val dt = colType(name).getOrElse(return None)
      val key = statKey(name)
      if (partCols.contains(name)) {
        f.partitionValues.get(key) match {
          case Some(TableWriter.HiveDefaultPartition) | None => None
          case Some(raw) => parseExternal(raw, dt).map(v => (v, v))
        }
      } else {
        stats.flatMap { s =>
          for {
            mn <- s.minValues.get(key).flatMap(parseStat(_, dt))
            mx <- s.maxValues.get(key).flatMap(parseStat(_, dt))
          } yield (mn, mx)
        }
      }
    }

    def cmp(a: Any, b: Any): Option[Int] = cmpCanonical(a, b)

    def litVal(v: Any, dt: DataType): Option[Any] = canonical(v, dt)

    /** Bloom probe: false ⇒ the value is definitely not in this file. Only
      * consulted for equality; conservative (absent index / unknown type /
      * any decode issue keeps the file). The filter words come from the
      * file's bloom SIDECAR (loaded lazily per probed column, cached) or —
      * legacy inline format — from the stats JSON itself.
      */
    def bloomMightContain(name: String, v: Any, dt: DataType): Boolean = {
      val key = statKey(name)
      val words: Option[Array[Long]] = stats.flatMap { s =>
        s.bloom.get(key) match {
          case Some(b64) =>
            try Some(BloomIndex.fromBase64(b64))
            catch { case _: IllegalArgumentException => None }
          case None =>
            for {
              ctx <- bloomCtx
              id <- s.bloomSidecar
              w <- BloomIndex.sidecarBlooms(ctx, id, key).get(f.path)
            } yield w
        }
      }
      (words, BloomIndex.hashOfLiteral(v, dt)) match {
        case (Some(w), Some(h)) => BloomIndex.mightContain(w, h)
        case _                  => true
      }
    }

    p match {
      case EqualTo(l, r) =>
        sides(l, r) match {
          case Some((name, v, dt, _)) =>
            val inRange = (range(name), litVal(v, dt)) match {
              case (Some((mn, mx)), Some(lit)) =>
                (for { c1 <- cmp(mn, lit); c2 <- cmp(lit, mx) } yield c1 <= 0 && c2 <= 0)
                  .getOrElse(true)
              case _ => true
            }
            inRange && bloomMightContain(name, v, dt)
          case None => true
        }
      case EqualNullSafe(l, r) => mightMatch(EqualTo(l, r), f, stats, schema, partCols, bloomCtx)
      case GreaterThan(l, r) =>
        sides(l, r) match {
          case Some((name, v, dt, litRight)) =>
            (range(name), litVal(v, dt)) match {
              case (Some((mn, mx)), Some(lit)) =>
                if (litRight) cmp(mx, lit).map(_ > 0).getOrElse(true)  // col > lit
                else cmp(mn, lit).map(_ < 0).getOrElse(true)           // lit > col ⇔ col < lit
              case _ => true
            }
          case None => true
        }
      case GreaterThanOrEqual(l, r) =>
        sides(l, r) match {
          case Some((name, v, dt, litRight)) =>
            (range(name), litVal(v, dt)) match {
              case (Some((mn, mx)), Some(lit)) =>
                if (litRight) cmp(mx, lit).map(_ >= 0).getOrElse(true)
                else cmp(mn, lit).map(_ <= 0).getOrElse(true)
              case _ => true
            }
          case None => true
        }
      case LessThan(l, r) => mightMatch(GreaterThan(r, l), f, stats, schema, partCols, bloomCtx)
      case LessThanOrEqual(l, r) => mightMatch(GreaterThanOrEqual(r, l), f, stats, schema, partCols, bloomCtx)
      case In(a @ PathRef(_), list) if list.forall(_.isInstanceOf[Literal]) =>
        list.exists(lit => mightMatch(EqualTo(a, lit), f, stats, schema, partCols, bloomCtx))
      // the optimizer converts large IN lists to InSet before the scan path
      // sees them — same per-value equality check, bounded so a pathological
      // million-value set cannot stall per-file planning
      case InSet(a @ PathRef(_), vs) if vs.size <= 256 =>
        vs.exists(v => mightMatch(EqualTo(a, Literal(v, a.dataType)),
          f, stats, schema, partCols, bloomCtx))
      case IsNull(PathRef(name)) =>
        if (partCols.contains(name))
          f.partitionValues.get(statKey(name)).forall(_ == TableWriter.HiveDefaultPartition)
        // parquet leaf null counts include rows where any ANCESTOR struct is
        // null — exactly SQL's `s.a IS NULL` semantics, so the prune is exact
        else stats.flatMap(_.nullCount.get(statKey(name))).forall(_ > 0)
      case IsNotNull(PathRef(name)) =>
        if (partCols.contains(name))
          !f.partitionValues.get(statKey(name)).contains(TableWriter.HiveDefaultPartition)
        else (for {
          s <- stats
          nc <- s.nullCount.get(statKey(name))
        } yield nc < s.numRecords).getOrElse(true)
      // OR: the file survives when EITHER disjunct might match — each side
      // recurses through the same conservative machinery, so `a = 1 OR
      // a = 900` prunes exactly the files neither point can live in
      case Or(l, r) =>
        mightMatch(l, f, stats, schema, partCols, bloomCtx) ||
          mightMatch(r, f, stats, schema, partCols, bloomCtx)
      // AND below an OR (top-level conjuncts are pre-split): both sides
      // must independently be possible for the file to survive this branch
      case And(l, r) =>
        mightMatch(l, f, stats, schema, partCols, bloomCtx) &&
          mightMatch(r, f, stats, schema, partCols, bloomCtx)
      // != prunes only the degenerate single-value file (min == max == v):
      // rows there are either v (fails the predicate) or NULL (3VL: a null
      // comparison filters out too) — no survivor possible
      case Not(EqualTo(l, r)) =>
        sides(l, r) match {
          case Some((name, v, dt, _)) =>
            (range(name), litVal(v, dt)) match {
              case (Some((mn, mx)), Some(lit)) =>
                !(cmp(mn, mx).contains(0) && cmp(mn, lit).contains(0))
              case _ => true
            }
          case None => true
        }
      // LIKE 'p%': a match lies in [p, next(p)) where next(p) increments
      // p's last incrementable char — the file survives iff its [min,max]
      // overlaps that band. The 100 TB case this serves: URL/domain-prefix
      // scans over clustered string keys.
      case StartsWith(PathRef(name), Literal(p, StringType)) if p != null =>
        prefixMightMatch(range(name), p.toString)
      // LIKE reaches this layer un-simplified (the StartsWith rewrite is an
      // optimizer rule; classify() resolves without optimizing) — extract
      // the prefix when the pattern is a pure 'p%' shape
      case Like(PathRef(name), Literal(p, StringType), escape) if p != null =>
        val pat = p.toString
        if (pat.nonEmpty && pat.last == '%' && {
              val head = pat.dropRight(1)
              !head.exists(c => c == '%' || c == '_' || c == escape)
            })
          prefixMightMatch(range(name), pat.dropRight(1))
        else true
      case _ => true // unknown predicate shape: cannot prune
    }
  }

  /** File-range check for a string-prefix match: a match lies in
    * [prefix, next(prefix)) — the file survives iff its [min,max] overlaps.
    * The band and both comparisons live in UTF-8 BYTE space ([[Utf8Order]]):
    * Spark evaluates `startsWith`, and parquet computes the footer min/max,
    * in unsigned UTF-8 byte order, so a UTF-16 band would prune files that
    * hold matches once the data mixes emoji with U+E000–U+FFFF chars.
    */
  private def prefixMightMatch(range: Option[(Any, Any)], prefix: String): Boolean =
    range match {
      case Some((mn: String, mx: String)) =>
        Utf8Order.gteq(mx, prefix) &&
          Utf8Order.prefixUpperBound(prefix).forall(ub => Utf8Order.ltBytes(mn, ub))
      case _ => true
    }

  /** Catalyst literal internal value → canonical comparable (Long/Double/String/Boolean). */
  private def canonical(v: Any, dt: DataType): Option[Any] = {
    if (v == null) return None
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(v.asInstanceOf[Number].longValue())
      case FloatType | DoubleType => Some(v.asInstanceOf[Number].doubleValue())
      case StringType => Some(v match {
        case u: UTF8String => u.toString
        case s: String     => s
        case o             => o.toString
      })
      case BooleanType => Some(v.asInstanceOf[Boolean])
      case TimestampType => Some(v.asInstanceOf[Number].longValue()) // micros
      case DateType => Some(v.asInstanceOf[Number].longValue())      // days
      // EXACT BigDecimal, never double: two distinct high-precision
      // decimal literals that round to one double would otherwise declare
      // a false-empty interval (contradictory()) and prune live rows
      case _: DecimalType => v match {
        case d: Decimal => Some(scala.math.BigDecimal(d.toJavaBigDecimal))
        case d: java.math.BigDecimal => Some(scala.math.BigDecimal(d))
        case _ => None
      }
      case _ => None
    }
  }

  /** Stats-map string → canonical comparable, per column type. */
  private[graft] def parseStat(s: String, dt: DataType): Option[Any] =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(s.toLong)
      // FLOAT round-trips through Float.toString — parse back through
      // FLOAT then widen, the same double the literal canonicalization
      // produces ("0.1".toDouble differs from 0.1f widened, and the
      // mismatch pruned files whose rows match exactly)
      case FloatType   => Some(s.toFloat.toDouble)
      case DoubleType  => Some(s.toDouble)
      case StringType  => Some(s)
      case BooleanType => Some(s.toBoolean)
      case TimestampType => Some(s.toLong) // stored as micros (ParquetStats)
      case DateType      => Some(s.toLong) // stored as epoch days
      case _ => None
    } catch { case _: NumberFormatException => None }

  /** Partition-dir string → canonical comparable, per column type. */
  private[graft] def parseExternal(s: String, dt: DataType): Option[Any] =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(s.toLong)
      case FloatType   => Some(s.toFloat.toDouble) // same rule as parseStat
      case DoubleType  => Some(s.toDouble)
      case StringType  => Some(s)
      case BooleanType => Some(s.toBoolean)
      case TimestampType =>
        // partition dir strings are written in the session timezone (we pin
        // UTC); java.sql.Timestamp.valueOf would use the JVM default tz.
        // FULL microsecond precision: toEpochMilli*1000 truncated
        // sub-millisecond fractions, pruning the matching partition
        Some {
          val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            ldt.getNano / 1000L
        }
      case DateType =>
        Some(java.sql.Date.valueOf(s).toLocalDate.toEpochDay)
      case _ => None
    } catch { case _: Exception => None }
}
