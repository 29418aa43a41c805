package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or, XxHash64}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{col, lit, pmod, to_date, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HIDDEN-PARTITIONING TRANSFORMS for the snapshot store's layout —
  * the Iceberg headline layout feature (`days(ts)`, `bucket(n, key)`)
  * on the store's mirror-column plane. Cites the shape, not the code:
  * Iceberg spec §"Partition Transforms" (public documentation).
  *
  * A layout mirror `<src>_p` has always carried `mirror == source`
  * (identity). A TRANSFORM mirror instead carries `mirror ==
  * f(source)`, with `f` recorded as [[StructField]] METADATA on the
  * partition-spec field — so the transform rides everywhere the spec
  * already travels (`table.meta` JSON, `#partspec` records, clones,
  * branches) with zero new planes:
  *
  *  - `days(ts)`   — mirror type DATE; day-granularity layout over a
  *    DATE or TIMESTAMP source (timestamps truncate in UTC — a FIXED
  *    zone, the Iceberg-spec discipline: the session zone is mutable
  *    per job, and deriving in it would let a read or later write
  *    under a different zone prune partitions that hold matching
  *    rows at day boundaries);
  *  - `months(ts)` — mirror type DATE, first-of-month: the calendar
  *    ordering survives, so range predicates stay monotone;
  *  - `years(ts)`  — mirror type DATE, first-of-year (same
  *    discipline, coarser grain);
  *  - `hours(ts)`  — mirror type INT, hours since the epoch: zone-free
  *    by construction, monotone in the timestamp, the event-time
  *    layout grain (TIMESTAMP sources only — a date has no hour);
  *  - `bucket(n, k)` — mirror type INT; `xxhash64(k) mod n` over an
  *    integral or string source. Both sides (the write door's Column
  *    expression and the driver's literal probe) evaluate the SAME
  *    Catalyst `XxHash64`, so agreement is by construction — the
  *    [[SnapshotBloom]] discipline. Integral sources hash as LONG
  *    (cast first): int32 bytes hash differently, the Bloom lesson;
  *  - `truncate(w, s)` — mirror type STRING, the first `w` chars:
  *    prefix truncation is monotone under the lexicographic order,
  *    so equality AND ranges prune.
  *
  * Transform mirrors are HIDDEN: they are not part of the SQL table
  * schema, users never write or query them — the write doors derive
  * them, and reads prune through [[translateFilters]], which rewrites
  * SOURCE-column predicates onto the partition plane (range for
  * `days`, equality-only for `bucket`, everything for identity — each
  * a NECESSARY condition, so pruning is a sound over-approximation
  * and the original filter still evaluates post-scan). Identity
  * tables carry no metadata and take exactly the pre-transform code
  * paths.
  */
object SnapshotTransforms {
  sealed trait T extends Serializable
  case object Identity extends T
  case object Days extends T
  case object Months extends T
  case object Years extends T
  case object Hours extends T
  final case class Bucket(n: Int) extends T
  final case class Truncate(w: Int) extends T

  private val TransformKey = "graft.transform"
  private val BucketNKey = "graft.bucket.n"
  private val TruncateWKey = "graft.truncate.w"

  /** The transform a partition-spec field declares (metadata-absent =
    * identity, the historical layout).
    */
  def of(f: StructField): T =
    if (!f.metadata.contains(TransformKey)) Identity
    else f.metadata.getString(TransformKey) match {
      case "days" => Days
      case "months" => Months
      case "years" => Years
      case "hours" => Hours
      case "bucket" => Bucket(f.metadata.getLong(BucketNKey).toInt)
      case "truncate" => Truncate(f.metadata.getLong(TruncateWKey).toInt)
      case other => throw new IllegalStateException(
        s"unknown layout transform '$other' on ${f.name}")
    }

  /** The hidden (non-identity) mirror names of a spec — excluded from
    * the SQL table schema.
    */
  def hiddenMirrors(spec: StructType): Set[String] =
    spec.fields.filter(f => of(f) != Identity).map(_.name).toSet

  /** Mirror field for a declared transform over `src`. */
  def mirrorField(t: T, src: StructField): StructField = {
    val name = s"${src.name}_p"
    t match {
      case Identity => StructField(name, src.dataType, nullable = true)
      case Days =>
        require(src.dataType == DateType || src.dataType == TimestampType,
          s"days(${src.name}): source must be DATE or TIMESTAMP, got " +
            src.dataType.simpleString)
        StructField(name, DateType, nullable = true,
          new MetadataBuilder().putString(TransformKey, "days").build())
      case Months =>
        require(src.dataType == DateType || src.dataType == TimestampType,
          s"months(${src.name}): source must be DATE or TIMESTAMP, got " +
            src.dataType.simpleString)
        // first-of-month DATE mirror: keeps the calendar ordering, so
        // range predicates stay monotone on the partition plane
        StructField(name, DateType, nullable = true,
          new MetadataBuilder().putString(TransformKey, "months").build())
      case Years =>
        require(src.dataType == DateType || src.dataType == TimestampType,
          s"years(${src.name}): source must be DATE or TIMESTAMP, got " +
            src.dataType.simpleString)
        // first-of-year DATE mirror — the months discipline, coarser
        StructField(name, DateType, nullable = true,
          new MetadataBuilder().putString(TransformKey, "years").build())
      case Hours =>
        // epoch-hour INT mirror: hours since 1970-01-01T00:00Z —
        // zone-FREE by construction (the one temporal transform that
        // needs no calendar), monotone in the timestamp, so ranges
        // prune. DATE sources refuse: a date has no hour.
        require(src.dataType == TimestampType,
          s"hours(${src.name}): source must be TIMESTAMP, got " +
            src.dataType.simpleString)
        StructField(name, IntegerType, nullable = true,
          new MetadataBuilder().putString(TransformKey, "hours").build())
      case Bucket(n) =>
        require(n >= 2 && n <= (1 << 20),
          s"bucket(${src.name}): bucket count must be in [2, 2^20], got $n")
        require(bucketable(src.dataType),
          s"bucket(${src.name}): source must be integral or string, " +
            s"got ${src.dataType.simpleString}")
        StructField(name, IntegerType, nullable = true,
          new MetadataBuilder().putString(TransformKey, "bucket")
            .putLong(BucketNKey, n.toLong).build())
      case Truncate(w) =>
        require(w >= 1 && w <= 1024,
          s"truncate(${src.name}): width must be in [1, 1024], got $w")
        require(src.dataType == StringType,
          s"truncate(${src.name}): source must be STRING, got " +
            src.dataType.simpleString)
        StructField(name, StringType, nullable = true,
          new MetadataBuilder().putString(TransformKey, "truncate")
            .putLong(TruncateWKey, w.toLong).build())
    }
  }

  private def bucketable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** The UTC calendar day of a TIMESTAMP column, as DATE — pure epoch
    * arithmetic, deliberately NOT `to_date` (which truncates in the
    * MUTABLE session zone; a later read or write under a different
    * zone would then prune partitions holding matching rows). The
    * pmod-subtract makes the dividend an exact multiple, so the
    * integral `div` is floor division for negative (pre-1970) micros
    * too.
    */
  private def utcDay(src: Column): Column = {
    val us = org.apache.spark.sql.functions.unix_micros(src)
    val perDay = lit(86400000000L)
    org.apache.spark.sql.functions.date_from_unix_date(
      org.apache.spark.sql.functions
        .call_function("div", us - pmod(us, perDay), perDay).cast("int"))
  }

  /** The mirror's value as a Column over its source — the write door's
    * derivation (commit path, migrate_layout).
    */
  def deriveCol(f: StructField, src: Column, srcType: DataType): Column =
    of(f) match {
      case Identity => src
      case Days => srcType match {
        case DateType => src
        case TimestampType => utcDay(src)
        case other => throw new IllegalArgumentException(
          s"days over ${other.simpleString}")
      }
      case Months => srcType match {
        // trunc(_, "MM") = first-of-month DATE over the (zone-free)
        // DATE plane; timestamps take their UTC day first
        case DateType => org.apache.spark.sql.functions.trunc(src, "MM")
        case TimestampType =>
          org.apache.spark.sql.functions.trunc(utcDay(src), "MM")
        case other => throw new IllegalArgumentException(
          s"months over ${other.simpleString}")
      }
      case Years => srcType match {
        case DateType => org.apache.spark.sql.functions.trunc(src, "YEAR")
        case TimestampType =>
          org.apache.spark.sql.functions.trunc(utcDay(src), "YEAR")
        case other => throw new IllegalArgumentException(
          s"years over ${other.simpleString}")
      }
      case Hours => srcType match {
        case TimestampType =>
          val us = org.apache.spark.sql.functions.unix_micros(src)
          val perHour = lit(3600000000L)
          org.apache.spark.sql.functions
            .call_function("div", us - pmod(us, perHour), perHour)
            .cast("int")
        case other => throw new IllegalArgumentException(
          s"hours over ${other.simpleString}")
      }
      case Bucket(n) => srcType match {
        case StringType => pmod(xxhash64(src), lit(n.toLong)).cast("int")
        // integral sources hash as LONG on both sides (the Bloom
        // lesson: xxhash64 of int32 hashes 4 bytes, the driver probe 8)
        case ByteType | ShortType | IntegerType | LongType =>
          pmod(xxhash64(src.cast("long")), lit(n.toLong)).cast("int")
        case other => throw new IllegalArgumentException(
          s"bucket over ${other.simpleString}")
      }
      case Truncate(w) => srcType match {
        case StringType =>
          org.apache.spark.sql.functions.substring(src, 1, w)
        case other => throw new IllegalArgumentException(
          s"truncate over ${other.simpleString}")
      }
    }

  /** Driver/executor-side literal bucket — the SAME Catalyst XxHash64
    * the Column expression evaluates, seed and all.
    */
  def bucketOfLong(v: Long, n: Int): Int = {
    val h = new XxHash64(Seq(Literal(v, LongType)), 42L)
      .eval(InternalRow.empty).asInstanceOf[Long]
    (((h % n) + n) % n).toInt
  }

  def bucketOfUtf8(v: UTF8String, n: Int): Int = {
    val h = new XxHash64(Seq(Literal(v, StringType)), 42L)
      .eval(InternalRow.empty).asInstanceOf[Long]
    (((h % n) + n) % n).toInt
  }

  /** Epoch-day of the month start containing `days` — the driver/row
    * twin of the Column-side `trunc(_, "MM")`.
    */
  def firstOfMonthDays(days: Int): Int =
    java.time.LocalDate.ofEpochDay(days.toLong)
      .withDayOfMonth(1).toEpochDay.toInt

  /** Epoch-day of the year start containing `days` — the driver/row
    * twin of the Column-side `trunc(_, "YEAR")`.
    */
  def firstOfYearDays(days: Int): Int =
    java.time.LocalDate.ofEpochDay(days.toLong)
      .withDayOfYear(1).toEpochDay.toInt

  /** Epoch-hour of a timestamp's micros (floor division, exact for
    * pre-1970 values too) — the driver/row twin of the Column-side
    * hours arithmetic.
    */
  def epochHourOfMicros(micros: Long): Int =
    Math.floorDiv(micros, 3600000000L).toInt

  /** Char-count prefix — the driver/row twin of `substring(_, 1, w)`. */
  def truncateUtf8(v: UTF8String, w: Int): UTF8String =
    if (v.numChars <= w) v else v.substring(0, w)

  /** Runtime (DPP) V2 predicate → Catalyst expression over layout
    * SOURCE columns, for [[translateFilters]] to rewrite onto the
    * partition plane. The read-path `PartitionPruning` rule plants
    * `IN`/`=` predicates (the broadcast dimension side's distinct join
    * keys) over whatever attributes the scan declared — for a hidden
    * transform mirror that attribute is the mirror's SOURCE column
    * (the mirror itself is never in the read schema), so the arriving
    * predicate references the source by name with literals already in
    * Catalyst internal form. Only names that are sources of spec
    * fields and not partition columns themselves qualify (predicates
    * on the mirror names take the direct
    * [[SnapshotRowLevel.v2ToPartitionExpr]] path); anything
    * untranslatable returns None — ignored, never wrong.
    */
  def v2ToSourceExpr(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate,
      spec: StructType): Option[Expression] = {
    val mirrors = spec.fieldNames.toSet
    val sources = mirrors.map(_.stripSuffix("_p")) -- mirrors
    def ref(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case n: org.apache.spark.sql.connector.expressions.NamedReference
          if n.fieldNames.length == 1 && sources(n.fieldNames.head) =>
        Some(n.fieldNames.head)
      case _ => None
    }
    def lit(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Literal] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        Some(Literal(l.value, l.dataType))
      case _ => None
    }
    def attr(name: String, dt: DataType): AttributeReference =
      AttributeReference(name, dt, nullable = true)()
    p.name() match {
      case "IN" =>
        val ch = p.children()
        for {
          a <- ref(ch.head)
          vs = ch.tail.toIndexedSeq.flatMap(lit)
          if vs.length == ch.length - 1 && vs.nonEmpty
        } yield In(attr(a, vs.head.dataType), vs)
      case "=" =>
        val ch = p.children()
        for (a <- ref(ch(0)); v <- lit(ch(1)))
          yield EqualTo(attr(a, v.dataType), v)
      case "AND" =>
        val ch = p.children().map(
          _.asInstanceOf[
            org.apache.spark.sql.connector.expressions.filter.Predicate])
        (v2ToSourceExpr(ch(0), spec), v2ToSourceExpr(ch(1), spec)) match {
          case (Some(a), Some(b)) => Some(And(a, b))
          // one side alone is still a necessary condition
          case (one, other) => one.orElse(other)
        }
      case _ => None
    }
  }

  /** TRANSFORM-PLANE PRUNING: rewrite SOURCE-column data filters into
    * partition-plane filters over the mirror columns — each output is
    * a NECESSARY condition of its input (a partition failing it
    * provably holds no matching row), so appending these to the
    * partition filters prunes soundly while the original filter still
    * evaluates post-scan as an ordinary data filter.
    *
    *  - identity: every comparison carries over verbatim
    *    (`mirror == source` per row);
    *  - days: equality and ranges carry at day granularity — strict
    *    bounds WEAKEN to inclusive day bounds (`ts > T` keeps T's own
    *    day: later-in-day rows match);
    *  - bucket: equality and IN only (hash order is meaningless).
    */
  def translateFilters(dataFilters: Seq[Expression],
                       spec: StructType): Seq[Expression] = {
    if (spec.fields.isEmpty) return Nil
    // source name -> (mirror attribute, transform, source type)
    val bySource: Map[String, (AttributeReference, T, DataType)] =
      spec.fields.map { f =>
        val t = of(f)
        f.name.stripSuffix("_p") ->
          (AttributeReference(f.name, f.dataType, nullable = true)(), t,
            sourceTypeOf(f, t))
      }.toMap
    dataFilters.flatMap(translateOne(_, bySource))
  }

  /** The source type a transform's literals arrive as. For identity
    * the mirror IS the source type; days keeps a declared marker of
    * date-or-timestamp only through the literal's own type, so pass
    * the mirror type and let the literal decide.
    */
  private def sourceTypeOf(f: StructField, t: T): DataType = f.dataType

  private def translateOne(e: Expression,
      bySource: Map[String, (AttributeReference, T, DataType)])
      : Option[Expression] = {
    // days-mirror literal from a source literal (Int days pass through;
    // Long micros truncate in UTC — the same FIXED zone the write
    // side's [[utcDay]] and the row writer's routedValue use, never
    // the mutable session zone)
    def dayLit(v: Any, litType: DataType): Option[Literal] = (litType, v) match {
      case (DateType, d: Int) => Some(Literal(d, DateType))
      case (TimestampType, micros: Long) =>
        Some(Literal(
          DateTimeUtils.microsToDays(micros, java.time.ZoneOffset.UTC),
          DateType))
      case _ => None
    }
    def bucketLit(v: Any, litType: DataType, n: Int): Option[Literal] =
      (litType, v) match {
        case (ByteType, b: Byte) => Some(Literal(bucketOfLong(b.toLong, n)))
        case (ShortType, s: Short) => Some(Literal(bucketOfLong(s.toLong, n)))
        case (IntegerType, i: Int) => Some(Literal(bucketOfLong(i.toLong, n)))
        case (LongType, l: Long) => Some(Literal(bucketOfLong(l, n)))
        case (StringType, u: UTF8String) => Some(Literal(bucketOfUtf8(u, n)))
        case _ => None
      }
    def monthLit(v: Any, litType: DataType): Option[Literal] =
      dayLit(v, litType).map { d =>
        Literal(firstOfMonthDays(d.value.asInstanceOf[Int]), DateType)
      }
    def yearLit(v: Any, litType: DataType): Option[Literal] =
      dayLit(v, litType).map { d =>
        Literal(firstOfYearDays(d.value.asInstanceOf[Int]), DateType)
      }
    def hourLit(v: Any, litType: DataType): Option[Literal] =
      (litType, v) match {
        case (TimestampType, micros: Long) =>
          Some(Literal(epochHourOfMicros(micros), IntegerType))
        case _ => None
      }
    def truncLit(v: Any, litType: DataType, w: Int): Option[Literal] =
      (litType, v) match {
        case (StringType, u: UTF8String) =>
          Some(Literal(truncateUtf8(u, w), StringType))
        case _ => None
      }
    // one (source attr `cmp` literal) atom -> mirror-plane expression
    def atom(a: AttributeReference, v: Any, litType: DataType,
             cmp: String): Option[Expression] =
      bySource.get(a.name).flatMap { case (m, t, _) =>
        t match {
          case Identity => Some(cmp match {
            case "=" => EqualTo(m, Literal(v, litType))
            case ">" => GreaterThan(m, Literal(v, litType))
            case ">=" => GreaterThanOrEqual(m, Literal(v, litType))
            case "<" => LessThan(m, Literal(v, litType))
            case "<=" => LessThanOrEqual(m, Literal(v, litType))
          })
          case Days => dayLit(v, litType).map { d =>
            cmp match {
              case "=" => EqualTo(m, d)
              // strict bounds weaken to the day: `ts > T` can match
              // rows later inside T's own day
              case ">" | ">=" => GreaterThanOrEqual(m, d)
              case "<" | "<=" => LessThanOrEqual(m, d)
            }
          }
          case Months => monthLit(v, litType).map { mo =>
            cmp match {
              case "=" => EqualTo(m, mo)
              case ">" | ">=" => GreaterThanOrEqual(m, mo)
              case "<" | "<=" => LessThanOrEqual(m, mo)
            }
          }
          case Years => yearLit(v, litType).map { y =>
            cmp match {
              case "=" => EqualTo(m, y)
              case ">" | ">=" => GreaterThanOrEqual(m, y)
              case "<" | "<=" => LessThanOrEqual(m, y)
            }
          }
          // epoch-hour is monotone in the timestamp: strict bounds
          // weaken to the containing hour, the days discipline
          case Hours => hourLit(v, litType).map { h =>
            cmp match {
              case "=" => EqualTo(m, h)
              case ">" | ">=" => GreaterThanOrEqual(m, h)
              case "<" | "<=" => LessThanOrEqual(m, h)
            }
          }
          // prefix truncation is monotone under the lexicographic
          // order, so ranges weaken to the truncated bound exactly
          // like days/months weaken to calendar grains
          case Truncate(w) => truncLit(v, litType, w).map { t =>
            cmp match {
              case "=" => EqualTo(m, t)
              case ">" | ">=" => GreaterThanOrEqual(m, t)
              case "<" | "<=" => LessThanOrEqual(m, t)
            }
          }
          case Bucket(n) =>
            if (cmp == "=") bucketLit(v, litType, n).map(EqualTo(m, _))
            else None
        }
      }
    def inAtom(a: AttributeReference, vs: Seq[(Any, DataType)])
        : Option[Expression] =
      bySource.get(a.name).flatMap { case (m, t, _) =>
        val lits: Seq[Option[Literal]] = t match {
          case Identity => vs.map { case (v, dt) => Some(Literal(v, dt)) }
          case Days => vs.map { case (v, dt) => dayLit(v, dt) }
          case Months => vs.map { case (v, dt) => monthLit(v, dt) }
          case Years => vs.map { case (v, dt) => yearLit(v, dt) }
          case Hours => vs.map { case (v, dt) => hourLit(v, dt) }
          case Truncate(w) => vs.map { case (v, dt) => truncLit(v, dt, w) }
          case Bucket(n) => vs.map { case (v, dt) => bucketLit(v, dt, n) }
        }
        if (lits.forall(_.isDefined)) Some(In(m, lits.flatten.distinct))
        else None
      }
    e match {
      case EqualTo(a: AttributeReference, Literal(v, dt)) => atom(a, v, dt, "=")
      case EqualTo(Literal(v, dt), a: AttributeReference) => atom(a, v, dt, "=")
      case GreaterThan(a: AttributeReference, Literal(v, dt)) => atom(a, v, dt, ">")
      case GreaterThan(Literal(v, dt), a: AttributeReference) => atom(a, v, dt, "<")
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) => atom(a, v, dt, ">=")
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) => atom(a, v, dt, "<=")
      case LessThan(a: AttributeReference, Literal(v, dt)) => atom(a, v, dt, "<")
      case LessThan(Literal(v, dt), a: AttributeReference) => atom(a, v, dt, ">")
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) => atom(a, v, dt, "<=")
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) => atom(a, v, dt, ">=")
      case In(a: AttributeReference, list)
          if list.forall(_.isInstanceOf[Literal]) =>
        inAtom(a, list.map { case Literal(v, dt) => (v, dt) })
      case InSet(a: AttributeReference, hset) =>
        inAtom(a, hset.toSeq.map(v => (v, a.dataType)))
      // layout SOURCE columns are non-null by store invariant (the
      // commit refuses null partition source values; evolve audits
      // pre-evolution rows) — `IsNull(src)` therefore matches NO row
      // anywhere: FALSE on the partition plane prunes everything.
      // `IsNotNull` translates to TRUE so Or-composed predicates
      // (`IsNotNull(a) OR x`) stay translatable; alone it prunes
      // nothing, which is exactly its truth.
      case IsNull(a: AttributeReference) if bySource.contains(a.name) =>
        Some(Literal(false, BooleanType))
      case IsNotNull(a: AttributeReference) if bySource.contains(a.name) =>
        Some(Literal(true, BooleanType))
      // AND: any translatable side is a necessary condition on its own
      case And(l, r) =>
        (translateOne(l, bySource), translateOne(r, bySource)) match {
          case (Some(a), Some(b)) => Some(And(a, b))
          case (one, other) => one.orElse(other)
        }
      // OR: both sides must translate, or nothing is necessary
      case Or(l, r) =>
        for {
          a <- translateOne(l, bySource)
          b <- translateOne(r, bySource)
        } yield Or(a, b)
      case _ => None
    }
  }
}
