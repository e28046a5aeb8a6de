package graft.core

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-file zone maps for TxTable's manifest — the data-skipping layer
  * of the table format (the Delta `stats` / Iceberg manifest-metrics
  * analog).
  *
  * At commit time [[fromFooter]] reads each new data file's PARQUET
  * FOOTER (metadata only — never a data rescan, so the write path pays
  * zero extra I/O at 100 TB) and records, per top-level primitive
  * column: min, max, null count, plus the file's exact row count. The
  * manifest stores one compact JSON document per file; at read time
  * [[mayMatch]] evaluates a query predicate against those intervals and
  * drops every file that provably cannot hold a matching row — BEFORE
  * Spark lists, opens, or schedules anything. Parquet's own row-group
  * filtering then prunes again inside the files that survive.
  *
  * Soundness rules (a file is only skipped when it's PROVABLE):
  *  - Columns with missing/invalid footer stats simply have no entry —
  *    every predicate on them keeps the file.
  *  - String min/max are kept only when pure ASCII: parquet orders
  *    binary stats by unsigned byte, Java strings by UTF-16 code unit;
  *    the orders agree when at least one side is ASCII, so ASCII-only
  *    stats compare soundly against ANY query literal. Long strings are
  *    truncated to 64 chars — a prefix is a valid lower bound, and the
  *    truncated upper bound has its last char bumped (or is dropped).
  *  - Unsupported predicate shapes evaluate to "may match" (keep).
  *
  * Comparable domains per Spark type: integral+date → Long (days for
  * dates), float/double → Double, timestamp → Long (micros; requires
  * TIMESTAMP_MICROS output — INT96 footers carry no valid stats),
  * string → String, boolean → Boolean. Decimal and nested types are
  * not statted (kept conservatively).
  */
object FileStats {

  /** One column's zone-map entry. `min`/`max` are None when the column
    * is all-null in the file (then `nulls == rows` proves emptiness to
    * the evaluator). `nulls` is -1 when the footer didn't record it. */
  final case class ColStats(min: Option[Any], max: Option[Any], nulls: Long)

  /** One file's stats: exact row count + per-column zone maps. */
  final case class Stats(rows: Long, cols: Map[String, ColStats]) {
    def toJson: String = {
      def jval(v: Any): JValue = v match {
        case l: Long    => JLong(l)
        case d: Double  => JDouble(d)
        case s: String  => JString(s)
        case b: Boolean => JBool(b)
      }
      val colsJ = JObject(cols.toSeq.sortBy(_._1).map { case (c, s) =>
        c -> JObject(List(
          "min" -> s.min.map(jval).getOrElse(JNull),
          "max" -> s.max.map(jval).getOrElse(JNull),
          "nulls" -> JLong(s.nulls)))
      }.toList)
      JsonMethods.compact(JsonMethods.render(
        JObject("rows" -> JLong(rows), "cols" -> colsJ)))
    }
  }

  val MaxStringStatLen = 64

  /** Parse a manifest stats document; the table schema resolves each
    * column's comparable domain. Malformed input → None (file kept). */
  def fromJson(json: String, schema: StructType): Option[Stats] =
    if (json == null || json.isEmpty) None
    else Try {
      val root = JsonMethods.parse(json)
      val rows = root \ "rows" match {
        case JLong(n) => n
        case JInt(n)  => n.toLong
        case _        => -1L
      }
      val cols = (root \ "cols") match {
        case JObject(fields) => fields.flatMap { case (name, v) =>
          schema.find(_.name == name).flatMap { fld =>
            val mn = domainFromJson(v \ "min", fld.dataType)
            val mx = domainFromJson(v \ "max", fld.dataType)
            val nulls = (v \ "nulls") match {
              case JLong(n) => n
              case JInt(n)  => n.toLong
              case _        => -1L
            }
            // a present entry with JNull min/max = all-null column;
            // a failed domain parse = drop the column entirely
            (v \ "min", mn, v \ "max", mx) match {
              case (JNull, _, JNull, _) => Some(name -> ColStats(None, None, nulls))
              case (_, Some(a), _, Some(b)) => Some(name -> ColStats(Some(a), Some(b), nulls))
              case _ => None
            }
          }
        }.toMap
        case _ => Map.empty[String, ColStats]
      }
      Stats(rows, cols)
    }.toOption

  private def domainFromJson(j: JValue, dt: DataType): Option[Any] = (j, dt) match {
    case (JLong(n), _: ByteType | _: ShortType | _: IntegerType | _: LongType |
        _: DateType | _: TimestampType) => Some(n)
    case (JInt(n), _: ByteType | _: ShortType | _: IntegerType | _: LongType |
        _: DateType | _: TimestampType) => Some(n.toLong)
    case (JDouble(d), _: FloatType | _: DoubleType) => Some(d)
    case (JLong(n), _: FloatType | _: DoubleType) => Some(n.toDouble)
    case (JInt(n), _: FloatType | _: DoubleType) => Some(n.toDouble)
    case (JString(s), _: StringType) => Some(s)
    case (JBool(b), _: BooleanType) => Some(b)
    case _ => None
  }

  // ---- footer reading ----

  /** Read one parquet file's footer and build its [[Stats]]. Metadata
    * I/O only. Columns whose footer stats are absent/invalid in ANY row
    * group get no entry (sound: no entry = never skip on them). */
  def fromFooter(path: String, schema: StructType, conf: Configuration): Stats = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val wanted: Map[String, DataType] =
        schema.fields.map(f => f.name -> f.dataType).toMap
      // per column: merged (min, max, nulls) across row groups, or an
      // invalidation marker if any group lacks usable stats
      val acc = scala.collection.mutable.Map.empty[String, Option[(Option[Any], Option[Any], Long)]]
      for (b <- blocks; cc <- b.getColumns.asScala) {
        val name = cc.getPath.toDotString
        wanted.get(name).foreach { dt =>
          val cur = acc.getOrElse(name, Some((None, None, 0L)))
          val next: Option[(Option[Any], Option[Any], Long)] = cur.flatMap { case (mn0, mx0, n0) =>
            val st = cc.getStatistics
            if (st == null || st.isEmpty || !st.isNumNullsSet) None
            else if (!st.hasNonNullValue) {
              // min/max absent: provably all-null ONLY when the null
              // count covers every row in the group — writers also omit
              // BINARY min/max above the max-statistics size while still
              // setting null_count, and such a chunk may hold values
              if (st.getNumNulls == b.getRowCount)
                Some((mn0, mx0, n0 + st.getNumNulls))
              else None
            } else {
              for {
                mn <- statToDomain(st.genericGetMin.asInstanceOf[AnyRef],
                  cc.getPrimitiveType, dt, isMin = true)
                mx <- statToDomain(st.genericGetMax.asInstanceOf[AnyRef],
                  cc.getPrimitiveType, dt, isMin = false)
              } yield {
                val newMn = mn0.fold(mn)(o => if (cmp(mn, o) < 0) mn else o)
                val newMx = mx0.fold(mx)(o => if (cmp(mx, o) > 0) mx else o)
                (Some(newMn), Some(newMx), n0 + st.getNumNulls)
              }
            }
          }
          acc(name) = next
        }
      }
      val cols = acc.toMap.collect {
        case (name, Some((mn, mx, nulls))) if mn.isDefined || nulls > 0 =>
          name -> ColStats(mn, mx, nulls)
      }
      Stats(rows, cols)
    } finally reader.close()
  }

  /** Convert one parquet footer value into the column's comparable
    * domain; None = unusable (drops the column's stats for this file). */
  private def statToDomain(
      v: AnyRef, pt: PrimitiveType, dt: DataType, isMin: Boolean): Option[Any] = {
    val ann = pt.getLogicalTypeAnnotation
    (pt.getPrimitiveTypeName, dt) match {
      case (PrimitiveTypeName.INT32, _: ByteType | _: ShortType | _: IntegerType) =>
        Some(v.asInstanceOf[java.lang.Integer].longValue)
      case (PrimitiveTypeName.INT32, _: DateType)
          if ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        Some(v.asInstanceOf[java.lang.Integer].longValue)
      case (PrimitiveTypeName.INT64, _: LongType) =>
        Some(v.asInstanceOf[java.lang.Long].longValue)
      case (PrimitiveTypeName.INT64, _: TimestampType) => ann match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS =>
              Some(v.asInstanceOf[java.lang.Long].longValue)
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              Some(v.asInstanceOf[java.lang.Long].longValue * 1000L)
            case _ => None
          }
        case _ => None
      }
      case (PrimitiveTypeName.FLOAT, _: FloatType) =>
        Some(v.asInstanceOf[java.lang.Float].doubleValue)
      case (PrimitiveTypeName.DOUBLE, _: DoubleType) =>
        Some(v.asInstanceOf[java.lang.Double].doubleValue)
      case (PrimitiveTypeName.BOOLEAN, _: BooleanType) =>
        Some(v.asInstanceOf[java.lang.Boolean].booleanValue)
      case (PrimitiveTypeName.BINARY, _: StringType)
          if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        val s = v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
        if (!s.forall(_ < 0x80)) None // non-ASCII: byte vs UTF-16 order differ
        else if (s.length <= MaxStringStatLen) Some(s)
        else if (isMin) Some(s.take(MaxStringStatLen)) // prefix = valid lower bound
        else bumpLastChar(s.take(MaxStringStatLen))    // bumped prefix = valid upper bound
      case _ => None
    }
  }

  /** `abc` → `abd`: the smallest ASCII string that upper-bounds every
    * string starting with the input. Drops trailing 0x7F chars (can't
    * bump within ASCII); all-0x7F → None (no sound truncated bound). */
  private def bumpLastChar(s: String): Option[String] = {
    val trimmed = s.reverse.dropWhile(_ == 0x7f.toChar).reverse
    if (trimmed.isEmpty) None
    else Some(trimmed.init + (trimmed.last + 1).toChar)
  }

  // ---- predicate evaluation ----

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long)       => java.lang.Long.compare(x, y)
    case (x: Double, y: Double)   => java.lang.Double.compare(x, y)
    case (x: String, y: String)   => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalArgumentException(s"incomparable: $a vs $b")
  }

  /** Can a row of a file with `stats` satisfy `pred`? Conservative:
    * anything unprovable answers true. Expects an ANALYZED Catalyst
    * tree (TxTable resolves the user's `Column` once per query by
    * analyzing a filter over an empty relation with the table schema —
    * so type coercion has already run and attribute types are exact). */
  def mayMatch(stats: Stats, pred: Expression, schema: StructType): Boolean =
    try evalMay(stats, pred, schema)
    catch { case scala.util.control.NonFatal(_) => true }

  /** A user `Column` predicate resolved through Spark's analyzer
    * against `schema` (empty relation — zero data I/O) into the
    * analyzed condition [[mayMatch]] expects; None when the shape
    * doesn't resolve, which callers treat as "prune nothing" (sound).
    * The ONE resolution used by every import dialect's readWhere
    * (Delta, Iceberg) so their semantics can never drift. */
  def resolvePredicate(spark: org.apache.spark.sql.SparkSession,
      schema: StructType,
      pred: org.apache.spark.sql.Column): Option[Expression] =
    scala.util.Try {
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .filter(pred).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }
    }.toOption.flatten

  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.nameParts.head)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  /** A comparison side that is (possibly a monotone widening cast of) a
    * plain column: its name, its EFFECTIVE type after the cast (= the
    * domain query literals live in post-coercion), and the conversion
    * from the column's stored stats domain into that effective domain.
    * Only order-preserving casts qualify — for interval tests, a
    * monotone image of [min, max] still bounds the cast column. */
  private case class AttrSide(name: String, effType: DataType, toDom: Any => Any)

  private val intLike: DataType => Boolean = {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
    case _ => false
  }

  private def intWidth(dt: DataType): Int = dt match {
    case _: ByteType => 1; case _: ShortType => 2
    case _: IntegerType => 4; case _: LongType => 8
    case _ => 0
  }

  private def attrSide(e: Expression, schema: StructType): Option[AttrSide] = {
    def direct(x: Expression) = for {
      name <- attrName(x)
      fld <- schema.find(_.name == name)
    } yield AttrSide(name, fld.dataType, identity)
    e match {
      case c: Cast =>
        direct(c.child).flatMap { as =>
          (as.effType, c.dataType) match {
            case (f, t) if intLike(f) && intLike(t) && intWidth(t) >= intWidth(f) =>
              // only WIDENING integral casts are monotone — a narrowing
              // cast wraps on overflow, so [min,max] proves nothing
              Some(AttrSide(as.name, t, identity)) // stats stay Long
            case (f, _: FloatType | _: DoubleType) if intLike(f) =>
              // monotone (not injective past 2^53, which is still sound
              // for bound checks) — stats Long → Double
              Some(AttrSide(as.name, c.dataType, v => v.asInstanceOf[Long].toDouble))
            case (_: FloatType, _: DoubleType) =>
              Some(AttrSide(as.name, c.dataType, identity)) // already Double
            case (_: DateType, _: TimestampType) =>
              // UTC session: midnight micros — monotone
              Some(AttrSide(as.name, c.dataType,
                v => v.asInstanceOf[Long] * 86400L * 1000000L))
            case _ => None
          }
        }
      case _ => direct(e)
    }
  }

  private def foldValue(e: Expression): Option[(Any, DataType)] = e match {
    case Literal(v, t) => Some((v, t))
    case c: Cast => Try((c.eval(null), c.dataType)).toOption
    case _ => if (Try(e.foldable).getOrElse(false)) Try((e.eval(null), e.dataType)).toOption
              else None
  }

  /** Catalyst-internal literal value → the column's comparable domain.
    * None = type combination we don't prove anything about. */
  private def litToDomain(v: Any, litType: DataType, colType: DataType): Option[Any] = {
    if (v == null) return None
    (litType, colType) match {
      case (_: ByteType | _: ShortType | _: IntegerType | _: LongType,
            _: ByteType | _: ShortType | _: IntegerType | _: LongType) =>
        Some(v match {
          case b: Byte => b.toLong; case s: Short => s.toLong
          case i: Int => i.toLong; case l: Long => l
        })
      case (_: DateType, _: DateType) => Some(v.asInstanceOf[Int].toLong)
      case (_: TimestampType, _: TimestampType) => Some(v.asInstanceOf[Long])
      case (_: ByteType | _: ShortType | _: IntegerType | _: LongType |
            _: FloatType | _: DoubleType, _: FloatType | _: DoubleType) =>
        Some(v match {
          case b: Byte => b.toDouble; case s: Short => s.toDouble
          case i: Int => i.toDouble; case l: Long => l.toDouble
          case f: Float => f.toDouble; case d: Double => d
        })
      case (_: DecimalType, _: FloatType | _: DoubleType) =>
        Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
      case (_: StringType, _: StringType) => Some(v.toString)
      case (_: BooleanType, _: BooleanType) => Some(v.asInstanceOf[Boolean])
      case _ => None
    }
  }

  private def evalMay(st: Stats, e: Expression, schema: StructType): Boolean = e match {
    case And(l, r) => evalMay(st, l, schema) && evalMay(st, r, schema)
    case Or(l, r)  => evalMay(st, l, schema) || evalMay(st, r, schema)
    case Literal(b: Boolean, _: BooleanType) => b
    case Literal(null, _) => false

    // casts preserve null-ness, so null checks see through ANY cast
    case IsNull(a) => attrName(stripCasts(a)).flatMap(st.cols.get) match {
      case Some(cs) => cs.nulls != 0L // 0 = provably none; -1 = unknown → keep
      case None => true
    }
    case IsNotNull(a) => attrName(stripCasts(a)).flatMap(st.cols.get) match {
      case Some(cs) => !(st.rows >= 0 && cs.nulls == st.rows) // all-null → no row passes
      case None => true
    }

    case EqualTo(l, r)            => binCompare(st, l, r, schema, CmpOp.EQ)
    case EqualNullSafe(l, r)      => binCompare(st, l, r, schema, CmpOp.EQ)
    case LessThan(l, r)           => binCompare(st, l, r, schema, CmpOp.LT)
    case LessThanOrEqual(l, r)    => binCompare(st, l, r, schema, CmpOp.LE)
    case GreaterThan(l, r)        => binCompare(st, l, r, schema, CmpOp.GT)
    case GreaterThanOrEqual(l, r) => binCompare(st, l, r, schema, CmpOp.GE)

    case In(a, list) =>
      (for {
        as <- attrSide(a, schema)
        cs <- st.cols.get(as.name)
      } yield {
        if (cs.min.isEmpty) false // all-null file: In never evaluates true
        else {
          val doms = list.map(x => foldValue(x).flatMap { case (v, lt) =>
            litToDomain(v, lt, as.effType)
          })
          if (doms.exists(_.isEmpty)) true // unfoldable element → keep
          else {
            val (mn, mx) = (as.toDom(cs.min.get), as.toDom(cs.max.get))
            doms.flatten.exists(v => cmp(mn, v) <= 0 && cmp(v, mx) <= 0)
          }
        }
      }).getOrElse(true)

    case StartsWith(a, p) =>
      (for {
        name <- attrName(a)
        fld <- schema.find(_.name == name)
        if fld.dataType.isInstanceOf[StringType]
        cs <- st.cols.get(name)
        mn <- cs.min; mx <- cs.max
        (v, lt) <- foldValue(p)
        prefix <- litToDomain(v, lt, fld.dataType).map(_.asInstanceOf[String])
      } yield {
        val minS = mn.asInstanceOf[String]; val maxS = mx.asInstanceOf[String]
        // strings with this prefix live in [prefix, prefix∞): intersects
        // [min, max] iff max >= prefix and min's prefix-length cut <= prefix
        maxS.compareTo(prefix) >= 0 && minS.take(prefix.length).compareTo(prefix) <= 0
      }).getOrElse(true)

    case _ => true
  }

  private def stripCasts(e: Expression): Expression = e match {
    case c: Cast => stripCasts(c.child)
    case x => x
  }

  // ---- parquet bloom filters (point-read skipping) ----

  /** The top-level AND-conjunct equality constraints of an analyzed
    * predicate: column → the candidate values (Catalyst-internal, in
    * the column's own type) the row must take. `EqualTo` yields one
    * value, `In` its list (ANY-of semantics). OR branches and casts
    * are not descended — blooms only ever make pruning TIGHTER, so
    * missing a constraint is always sound. */
  def equalityConjuncts(pred: Expression, schema: StructType)
      : Map[String, Seq[Any]] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    conjuncts(pred).flatMap {
      case EqualTo(a, b) => eqPair(a, b, schema).orElse(eqPair(b, a, schema))
      case EqualNullSafe(a, b) => eqPair(a, b, schema).orElse(eqPair(b, a, schema))
      case In(a, vs) =>
        for {
          name <- attrName(a)
          fld <- schema.find(_.name == name)
          vals <- Try(vs.map { v =>
            val (value, lt) = foldValue(v).getOrElse(throw new Exception)
            if (lt != fld.dataType || value == null) throw new Exception
            value
          }).toOption
        } yield name -> vals
      case _ => None
    }.groupBy(_._1).map { case (k, vs) =>
      // several conjuncts on one column: values must satisfy ALL of
      // them — keep the first (sound; tighter intersection is overkill)
      k -> vs.head._2
    }
  }

  private def eqPair(a: Expression, b: Expression, schema: StructType)
      : Option[(String, Seq[Any])] = for {
    name <- attrName(a)
    fld <- schema.find(_.name == name)
    (v, lt) <- foldValue(b)
    if lt == fld.dataType && v != null
  } yield name -> Seq(v)

  /** Probe a file's parquet bloom filters: can the file contain a row
    * where EVERY listed column takes (one of) its candidate value(s)?
    * `false` only when some column's bloom DEFINITIVELY excludes every
    * candidate in every row group; missing blooms / unsupported types
    * answer true. Metadata+bloom I/O only (no data pages). */
  def bloomMayContain(path: String, conf: Configuration,
      wanted: Map[String, Seq[Any]]): Boolean = {
    if (wanted.isEmpty) return true
    // the open itself is inside the conservative guard: an unreadable
    // footer must KEEP the file (like every other stats path), not
    // abort the whole scan
    val reader =
      try ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
      catch { case scala.util.control.NonFatal(_) => return true }
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      // per column: true if ANY block may contain ANY candidate value
      wanted.forall { case (name, values) =>
        blocks.exists { b =>
          val bfr = reader.getBloomFilterDataReader(b)
          b.getColumns.asScala.find(_.getPath.toDotString == name) match {
            case None => true // column absent (pre-evolution file)
            case Some(cc) =>
              val bf = bfr.readBloomFilter(cc)
              if (bf == null) true // no bloom written → indeterminate
              else values.exists { v =>
                bloomHash(bf, v, cc.getPrimitiveType) match {
                  case Some(h) => bf.findHash(h)
                  case None => true // unhashable type → keep
                }
              }
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => true }
    finally reader.close()
  }

  /** Catalyst-internal value → parquet bloom hash, honoring the file's
    * physical type (int32 vs int64 hash differently). */
  private def bloomHash(
      bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      v: Any, pt: PrimitiveType): Option[Long] = {
    (pt.getPrimitiveTypeName, v) match {
      case (PrimitiveTypeName.INT32, i: Int)    => Some(bf.hash(i))
      case (PrimitiveTypeName.INT32, b: Byte)   => Some(bf.hash(b.toInt))
      case (PrimitiveTypeName.INT32, s: Short)  => Some(bf.hash(s.toInt))
      case (PrimitiveTypeName.INT64, l: Long)   => Some(bf.hash(l))
      case (PrimitiveTypeName.FLOAT, f: Float)  => Some(bf.hash(f))
      case (PrimitiveTypeName.DOUBLE, d: Double) => Some(bf.hash(d))
      case (PrimitiveTypeName.BINARY, s) if pt.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(s.toString)))
      case _ => None
    }
  }

  private object CmpOp extends Enumeration {
    val EQ, LT, LE, GT, GE = Value
    /** `lit ⊙ col` ⇔ `col mirror(⊙) lit`. */
    def mirror(op: Value): Value = op match {
      case LT => GT; case LE => GE; case GT => LT; case GE => LE; case x => x
    }
  }

  /** Binary comparison against a file's zone map, with the attribute on
    * either side (`col < lit` or `lit < col` — the operator mirrors).
    * Unresolvable shapes (non-literal side, unstatted column, type
    * mismatch) keep the file. */
  private def binCompare(st: Stats, l: Expression, r: Expression,
      schema: StructType, op: CmpOp.Value): Boolean = {
    // (stats-domain bounds mapped into the comparison's effective
    // domain, literal in that domain) — or all-null marker
    def resolve(a: Expression, b: Expression): Option[Option[(Any, Any, Any)]] = for {
      as <- attrSide(a, schema)
      cs <- st.cols.get(as.name)
      (v, lt) <- foldValue(b)
      dom <- litToDomain(v, lt, as.effType)
    } yield cs.min.map(mn => (as.toDom(mn), as.toDom(cs.max.get), dom))
    val normalized: Option[(Option[(Any, Any, Any)], CmpOp.Value)] =
      resolve(l, r).map((_, op))
        .orElse(resolve(r, l).map((_, CmpOp.mirror(op))))
    normalized match {
      case None => true
      case Some((None, _)) => false // all-null column: no row compares
      case Some((Some((mn, mx, v)), o)) => o match {
        case CmpOp.EQ => cmp(mn, v) <= 0 && cmp(v, mx) <= 0
        case CmpOp.LT => cmp(mn, v) < 0   // ∃ value < v ⇔ min < v
        case CmpOp.LE => cmp(mn, v) <= 0
        case CmpOp.GT => cmp(mx, v) > 0
        case CmpOp.GE => cmp(mx, v) >= 0
      }
    }
  }
}
