package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A full custom DataSource V2 connector: a deterministic synthetic
  * document-id stream with REAL filter pushdown and column pruning —
  * the connector-side twin of the repo's other Catalyst extension
  * tiers (custom expressions in `functions/`, the optimizer rule in
  * `plans/BandJoinRewrite`, the physical operator in
  * `plans/TopKPerKey`). Rows are a pure function of the id, so the
  * DuckDB oracle replays the whole "table" from `range()`:
  *
  *   id   BIGINT  — 0 until `rows`
  *   grp  BIGINT  — id % 20
  *   v    BIGINT  — first 60 bits of md5(id) (the catalog's md5-prefix
  *                  integer convention)
  *
  * Read path mechanics, each the real protocol (not a stub):
  *   - `pruneColumns`: the reader materializes ONLY the requested
  *     fields — an unused `v` means md5 is never computed (the analogue
  *     of a parquet scan skipping a column's pages).
  *   - `pushFilters`: comparisons and IN-lists on `id`/`grp` are
  *     ACCEPTED (evaluated inside the generator loop; accepted v2
  *     filters are NOT re-evaluated by Spark, so the source must apply
  *     them) — everything else stays a Spark-side residual. Filters on
  *     `id` additionally CLAMP each partition's range, the moral
  *     equivalent of partition pruning.
  *   - `planInputPartitions`: `numPartitions` contiguous id ranges —
  *     split generation, not a single-task stream.
  *
  * Options: `rows` (default 1000), `numPartitions` (default 4).
  * Usage: `spark.read.format("graft.sources.SynthSource")
  *   .option("rows", n).load()`.
  */
class SynthSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  // service-loader registration (META-INF/services) → `.format("graft-synth")`
  override def shortName(): String = "graft-synth"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SynthSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // properties arrive CASE-SENSITIVE here (unlike inferSchema's map) —
    // rewrap, or `.option("numPartitions", …)` silently misses
    val opts = new CaseInsensitiveStringMap(properties)
    new SynthTable(opts.getLong("rows", 1000L), opts.getInt("numpartitions", 4))
  }
}

object SynthSource {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))

  /** First 60 bits of md5 of the DECIMAL string of id — matches DuckDB's
    * `CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT)`
    * and the Spark-expression convention used across the catalog.
    */
  def mdPrefix(id: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(id.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Pushed-down aggregate functions the generator evaluates in-loop. */
  private[sources] sealed trait AggSpec extends Serializable
  private[sources] case object AggCountStar extends AggSpec
  private[sources] final case class AggMin(col: String) extends AggSpec
  private[sources] final case class AggMax(col: String) extends AggSpec
}

private[sources] class SynthTable(rows: Long, parts: Int) extends Table with SupportsRead {
  override def name(): String = s"synth($rows)"
  override def schema(): StructType = SynthSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SynthScanBuilder(rows, parts)
}

private[sources] class SynthScanBuilder(rows: Long, parts: Int)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {
  import SynthSource.{AggCountStar, AggMax, AggMin, AggSpec}
  private var required: StructType = SynthSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var aggGroupByGrp = false
  private var aggFuncs: Seq[AggSpec] = Nil
  private var aggPushed = false

  private def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _: Long)            => a == "id" || a == "grp"
    case GreaterThan(a, _: Long)        => a == "id" || a == "grp"
    case GreaterThanOrEqual(a, _: Long) => a == "id" || a == "grp"
    case LessThan(a, _: Long)           => a == "id" || a == "grp"
    case LessThanOrEqual(a, _: Long)    => a == "id" || a == "grp"
    case In(a, vs)                      => (a == "id" || a == "grp") &&
      vs.forall(_.isInstanceOf[Long])
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accept, residual) = filters.partition(supported)
    pushed = accept
    residual // Spark evaluates these; accepted ones are on the source
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** AGGREGATE pushdown (partial: Spark still merges per-partition
    * results — count partials re-sum, min/max re-min/max — so the
    * connector never has to see the whole "table" in one task).
    * Supported: optional `GROUP BY grp`, COUNT(*), MIN/MAX over any
    * generated column. The generator then aggregates IN THE READ LOOP
    * — the rows themselves never materialize, the analogue of a
    * parquet footer answering MIN/MAX from statistics. Spark only
    * attempts this when every filter was fully pushed (a residual
    * filter after aggregation would be unanswerable), so the clamp +
    * in-loop filter semantics compose unchanged.
    */
  /** COMPLETE pushdown when the scan plans exactly ONE partition: the
    * single reader sees the whole "table", so its per-group results are
    * already final and Spark plans NO aggregate node at all. With more
    * partitions the partial contract applies (Spark merges).
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    parts == 1 && accepts(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean =
    accepts(aggregation) match {
      case Some((byGrp, funcs)) =>
        aggGroupByGrp = byGrp
        aggFuncs = funcs
        aggPushed = true
        // readSchema becomes [group cols…, agg cols…] POSITIONALLY — Spark
        // maps them back to the rewritten aggregate by position, names free
        required = StructType(
          (if (byGrp) Seq(StructField("grp", LongType, nullable = false)) else Nil) ++
            funcs.zipWithIndex.map { case (f, i) =>
              // global MIN/MAX over an all-filtered partition is NULL (the
              // SQL/JDBC partial contract); COUNT(*) partials are never null
              StructField(s"agg_$i", LongType, nullable = f != AggCountStar)
            })
        true
      case None => false
    }

  private def accepts(aggregation: Aggregation): Option[(Boolean, Seq[AggSpec])] = {
    def field(e: Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }
    val groups = aggregation.groupByExpressions.toSeq.map(field)
    if (groups.length > 1 || groups.exists(!_.contains("grp"))) return None
    val cols = Set("id", "grp", "v")
    val funcs: Seq[Option[AggSpec]] = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(AggCountStar)
      // COUNT(col) over our columns ≡ COUNT(*): every generated column is
      // non-null, so the non-distinct count doesn't depend on the column
      case c: org.apache.spark.sql.connector.expressions.aggregate.Count
          if !c.isDistinct => field(c.column).filter(cols).map(_ => AggCountStar)
      case m: Min => field(m.column).filter(cols).map(AggMin)
      case m: Max => field(m.column).filter(cols).map(AggMax)
      case _ => None
    }
    if (funcs.isEmpty || funcs.exists(_.isEmpty)) None
    else Some((groups.nonEmpty, funcs.flatten))
  }

  override def build(): Scan =
    new SynthScan(rows, parts, required, pushed,
      if (aggPushed) Some((aggGroupByGrp, aggFuncs)) else None)
}

// public: specs inspect `pushed`/`pushedAgg`/`planInputPartitions`
class SynthScan(rows: Long, parts: Int, required: StructType,
                val pushed: Array[Filter],
                val pushedAgg: Option[(Boolean, Seq[SynthSource.AggSpec])] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"SynthScan(rows=$rows, cols=${required.fieldNames.mkString(",")}, " +
      s"pushed=${pushed.mkString("[", ",", "]")}" +
      pushedAgg.map { case (g, fs) =>
        s", pushedAgg=${if (g) "GROUP BY grp: " else ""}${fs.mkString(",")}"
      }.getOrElse("") + ")"

  override def planInputPartitions(): Array[InputPartition] = {
    // id-filter pushdown CLAMPS the generated ranges — the partition-
    // pruning analogue: a `id >= N` probe skips whole partitions
    var lo = 0L
    var hi = rows // exclusive
    pushed.foreach {
      case GreaterThan("id", v: Long)        => lo = math.max(lo, v + 1)
      case GreaterThanOrEqual("id", v: Long) => lo = math.max(lo, v)
      case LessThan("id", v: Long)           => hi = math.min(hi, v)
      case LessThanOrEqual("id", v: Long)    => hi = math.min(hi, v + 1)
      case EqualTo("id", v: Long)            => lo = math.max(lo, v); hi = math.min(hi, v + 1)
      case _                                 => ()
    }
    if (lo >= hi) return Array.empty
    val n = hi - lo
    val per = (n + parts - 1) / parts
    (0 until parts).iterator
      .map(i => (lo + i * per, math.min(lo + (i + 1) * per, hi)))
      .filter { case (a, b) => a < b }
      .map { case (a, b) => SynthRange(a, b): InputPartition }
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SynthReaderFactory(required, pushed, pushedAgg)
}

case class SynthRange(lo: Long, hi: Long) extends InputPartition

private[sources] class SynthReaderFactory(
    required: StructType, pushed: Array[Filter],
    pushedAgg: Option[(Boolean, Seq[SynthSource.AggSpec])])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = p.asInstanceOf[SynthRange]
    pushedAgg match {
      case Some((byGrp, funcs)) => new SynthAggReader(r.lo, r.hi, pushed, byGrp, funcs)
      case None                 => new SynthReader(r.lo, r.hi, required, pushed)
    }
  }
}

/** Per-partition PARTIAL aggregation inside the generator loop: the
  * pushed filters gate each id, the agg state is a tiny per-group
  * array, and no row is ever materialized — Spark merges the partials
  * (partial-pushdown contract of [[SupportsPushDownAggregates]]).
  */
private[sources] class SynthAggReader(lo: Long, hi: Long, pushed: Array[Filter],
                                      byGrp: Boolean,
                                      funcs: Seq[SynthSource.AggSpec])
    extends PartitionReader[InternalRow] {
  import SynthSource.{AggCountStar, AggMax, AggMin}
  private var out: Iterator[InternalRow] = _
  private var row: InternalRow = _

  private def colValue(attr: String, id: Long): Long = attr match {
    case "id"  => id
    case "grp" => id % 20
    case "v"   => SynthSource.mdPrefix(id)
  }

  private def keep(id: Long): Boolean = {
    val grp = id % 20
    def v(attr: String): Long = if (attr == "id") id else grp
    pushed.forall {
      case EqualTo(a, x: Long)            => v(a) == x
      case GreaterThan(a, x: Long)        => v(a) > x
      case GreaterThanOrEqual(a, x: Long) => v(a) >= x
      case LessThan(a, x: Long)           => v(a) < x
      case LessThanOrEqual(a, x: Long)    => v(a) <= x
      case In(a, vs)                      => vs.exists(_.asInstanceOf[Long] == v(a))
      case _                              => true
    }
  }

  private def materialize(): Iterator[InternalRow] = {
    val state = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Long]]
    def fresh() = funcs.map {
      case AggCountStar => 0L
      case AggMin(_)    => Long.MaxValue
      case AggMax(_)    => Long.MinValue
    }.toArray
    var id = lo
    while (id < hi) {
      if (keep(id)) {
        val key = if (byGrp) id % 20 else 0L
        val st = state.getOrElseUpdate(key, fresh())
        funcs.zipWithIndex.foreach {
          case (AggCountStar, i) => st(i) += 1
          case (AggMin(c), i)    => st(i) = math.min(st(i), colValue(c, id))
          case (AggMax(c), i)    => st(i) = math.max(st(i), colValue(c, id))
        }
      }
      id += 1
    }
    if (!byGrp && state.isEmpty) {
      // a GLOBAL aggregate always yields one row (SQL semantics — the
      // JDBC-pushdown contract): count 0, min/max NULL
      val empty: Seq[Any] = funcs.map {
        case AggCountStar => 0L
        case _            => null
      }
      return Iterator.single(InternalRow.fromSeq(empty))
    }
    state.iterator.map { case (k, st) =>
      InternalRow.fromSeq((if (byGrp) Seq(k) else Nil) ++ st.toSeq)
    }
  }

  override def next(): Boolean = {
    if (out == null) out = materialize()
    if (out.hasNext) { row = out.next(); true } else false
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

private[sources] class SynthReader(lo: Long, hi: Long, required: StructType,
                                   pushed: Array[Filter])
    extends PartitionReader[InternalRow] {
  private var cur = lo - 1

  private def keep(id: Long): Boolean = {
    val grp = id % 20
    def v(attr: String): Long = if (attr == "id") id else grp
    pushed.forall {
      case EqualTo(a, x: Long)            => v(a) == x
      case GreaterThan(a, x: Long)        => v(a) > x
      case GreaterThanOrEqual(a, x: Long) => v(a) >= x
      case LessThan(a, x: Long)           => v(a) < x
      case LessThanOrEqual(a, x: Long)    => v(a) <= x
      case In(a, vs)                      => vs.exists(_.asInstanceOf[Long] == v(a))
      case _                              => true
    }
  }

  override def next(): Boolean = {
    cur += 1
    while (cur < hi && !keep(cur)) cur += 1
    cur < hi
  }

  override def get(): InternalRow = {
    val vals = required.fieldNames.map {
      case "id"  => cur
      case "grp" => cur % 20
      case "v"   => SynthSource.mdPrefix(cur) // only computed when projected
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    InternalRow.fromSeq(vals.toIndexedSeq)
  }

  override def close(): Unit = ()
}
