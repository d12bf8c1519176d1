package graft.listing

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Per-file column min/max ranges for planner-time FILE skipping —
  * the data-skipping design Delta Lake / Iceberg popularized (stats
  * in table metadata prune files before any task launches), applied
  * to the engine's pre-listed index. Spark's parquet reader already
  * prunes ROW GROUPS inside a task; file-level skipping is the tier
  * above it: at 10^6 files a selective predicate on a
  * sorted/clustered column drops the tasks themselves, which no
  * executor-side filter can do.
  *
  * Values are stored in CATALYST internal form (Int days for dates,
  * Long micros for timestamps, UTF8String for strings) so they
  * compare directly against the `Literal`s Spark pushes in
  * `dataFilters` — no per-evaluation conversion.
  */
/** `noNulls` defaults to false — the safe direction (it only ever
  * ENABLES `IS NULL` pruning, so an absent null count merely skips
  * less).
  *
  * `mayHideNaN`: set on float/double ranges from sources that carry
  * no NaN evidence (parquet/ORC footers — parquet-format 1.16 has no
  * nan_count field; verified against the jars). Per the parquet
  * spec's stats compatibility rule, a FINITE min/max still bounds
  * every non-NaN row for all known writer behaviors (NaN-propagating
  * writers produce a NaN bound, which is rejected outright), but NaN
  * rows may hide behind the finite bounds. Under Spark's
  * NaN-is-largest semantics that breaks only the UPPER bound — every
  * row, NaN included, still satisfies `row >= min` — so the prover
  * keeps min-side and equality proofs and refuses max-side ones.
  * Iceberg ranges gated on `nan_value_counts == 0` are NaN-free and
  * leave this false (full two-sided pruning).
  *
  * `bucket`: `(N, b)` when every row's value hashes to Iceberg bucket
  * `b` of `N` (a hidden `bucket[N]` partition value). A null `min` or
  * `max` is an unknown side.
  */
final case class ColRange(min: Any, max: Any, allNulls: Boolean, noNulls: Boolean = false,
    mayHideNaN: Boolean = false, bucket: Option[(Int, Int)] = None) {

  /** Both facts at once: the tighter bound on each side (this one's
    * when they do not compare), and this bucket or else the other's.
    */
  def intersect(o: ColRange): ColRange = {
    def pick(a: Any, b: Any, tighter: Int => Boolean): Any =
      if (a == null || (b != null && FooterStats.cmp(b, a).exists(tighter))) b else a
    copy(min = pick(min, o.min, _ > 0), max = pick(max, o.max, _ < 0), bucket = bucket.orElse(o.bucket))
  }
}

object FooterStats {

  /** Read one parquet file's footer (driver-side, KB-scale I/O) into
    * per-column ranges. Columns with absent/unusable statistics are
    * simply omitted — absence always means "cannot skip", never
    * wrong results. Unreadable footers yield an empty map.
    */
  def read(conf: Configuration, path: String): Map[String, ColRange] = {
    statsReads.incrementAndGet()
    Try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
      try collect(reader.getFooter.getBlocks.asScala.toSeq)
      finally reader.close()
    }.getOrElse(Map.empty)
  }

  /** Test observability: footer opens made by [[rowCount]] since JVM
    * start — lets a spec PROVE a metadata count answered from the
    * table format's own log/manifest counts with zero footer I/O.
    */
  val rowCountReads = new java.util.concurrent.atomic.AtomicLong()

  /** Test observability: footer opens made by [[read]] and [[readOrc]]
    * since JVM start — lets a spec prove which files' skipping stats a
    * query read.
    */
  val statsReads = new java.util.concurrent.atomic.AtomicLong()

  /** Exact row count of one parquet file from its footer alone —
    * KB-scale metadata I/O, no data pages touched, no Spark job.
    * None when the footer is unreadable.
    */
  def rowCount(conf: Configuration, path: String): Option[Long] = {
    rowCountReads.incrementAndGet()
    Try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
      try reader.getRecordCount
      finally reader.close()
    }.toOption
  }

  /** Bounds AND row count in ONE footer open — for writers that
    * derive add-action/manifest statistics from the files they just
    * wrote; two separate calls would double the per-file driver GETs.
    */
  def readWithCount(conf: Configuration, path: String): (Map[String, ColRange], Option[Long]) =
    Try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
      try (collect(reader.getFooter.getBlocks.asScala.toSeq), Some(reader.getRecordCount))
      finally reader.close()
    }.getOrElse((Map.empty, None))

  private def collect(blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData]): Map[String, ColRange] = {
    val perCol = blocks.flatMap(_.getColumns.asScala).groupBy(_.getPath.toDotString)
    perCol.flatMap { case (name, chunks) =>
      // Per chunk, exactly one of: (a) usable min/max; (b) provably
      // all-null (numNulls == valueCount); (c) unknown. Any unknown
      // chunk makes the whole column range unknown -> no skipping.
      // parquet-mr already suppresses stats it knows are unreliable
      // (PARQUET-251 corrupt binary stats), which lands in (c).
      val tpe = chunks.head.getPrimitiveType
      sealed trait Chunk
      case class Range(min: Any, max: Any) extends Chunk
      case object AllNull extends Chunk
      val parsed: Seq[Option[Chunk]] = chunks.map { c =>
        val s = c.getStatistics
        if (s == null) None
        else if (s.hasNonNullValue)
          for (mn <- toCatalyst(tpe, s.genericGetMin.asInstanceOf[AnyRef]);
               mx <- toCatalyst(tpe, s.genericGetMax.asInstanceOf[AnyRef]))
            yield Range(mn, mx)
        else if (s.isNumNullsSet && s.getNumNulls == c.getValueCount) Some(AllNull)
        else None
      }
      if (parsed.exists(_.isEmpty)) None
      else {
        // IS NULL pruning: provable only when EVERY chunk records a
        // null count and they sum to zero
        val noNulls = chunks.forall { c =>
          val s = c.getStatistics
          s != null && s.isNumNullsSet && s.getNumNulls == 0
        }
        // footers carry no NaN counts (parquet-format 1.16): finite
        // float/double bounds may hide NaN rows -> one-sided range
        val floaty = tpe.getPrimitiveTypeName == FLOAT || tpe.getPrimitiveTypeName == DOUBLE
        val ranges = parsed.flatten.collect { case r: Range => r }
        if (ranges.isEmpty) Some(name -> ColRange(null, null, allNulls = true))
        else Some(name -> ColRange(
          ranges.map(_.min).min(ord), ranges.map(_.max).max(ord),
          allNulls = false, noNulls = noNulls, mayHideNaN = floaty))
      }
    }
  }

  /** First day/instant on which the Julian-hybrid and proleptic
    * Gregorian calendars agree (1582-10-15). Legacy writers (Spark
    * 2.x, or 3.x in LEGACY rebase mode) store Julian-hybrid day/µs
    * numbers that Spark rebases on read — the two schemes diverge
    * only BEFORE this cutoff, so stats at or after it are safe to
    * compare against rebased literals, and earlier ones are dropped.
    */
  private val GregorianCutoverDays = -141427
  private val GregorianCutoverMicros = -12219292800000000L

  /** Convert a parquet statistics value to the Catalyst internal form
    * of the Spark type that parquet physical+logical type maps to.
    * Returns None for combinations where the mapping is ambiguous or
    * the comparison semantics differ — never guess:
    *  - decimals, int96, millis timestamps: representation mismatch;
    *  - FLOAT/DOUBLE with a NaN bound: per the parquet spec's stats
    *    compatibility rule a NaN min/max must be ignored (that is the
    *    NaN-PROPAGATING writer fingerprint). Finite float bounds are
    *    admitted, but [[collect]] marks them `mayHideNaN` because the
    *    spec also allows writers to SKIP NaN when computing bounds —
    *    the prover then refuses max-side proofs (Spark treats NaN as
    *    largest, so a hidden NaN row breaks only the upper bound);
    *  - pre-Gregorian dates/timestamps: legacy-rebase ambiguity.
    */
  private def toCatalyst(tpe: org.apache.parquet.schema.PrimitiveType, v: AnyRef): Option[Any] = {
    val logical = tpe.getLogicalTypeAnnotation
    (tpe.getPrimitiveTypeName, logical) match {
      case (_, _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) => None
      case (INT32, _: DateLogicalTypeAnnotation) =>
        val d = v.asInstanceOf[Integer].intValue
        if (d >= GregorianCutoverDays) Some(d) else None
      case (INT32, null) => Some(v.asInstanceOf[Integer].intValue)
      case (INT32, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation) if i.getBitWidth == 32 =>
        Some(v.asInstanceOf[Integer].intValue)
      case (INT64, null) => Some(v.asInstanceOf[java.lang.Long].longValue)
      case (INT64, t: TimestampLogicalTypeAnnotation)
          if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
        val us = v.asInstanceOf[java.lang.Long].longValue // Catalyst micros
        if (us >= GregorianCutoverMicros) Some(us) else None
      case (INT64, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation) if i.getBitWidth == 64 =>
        Some(v.asInstanceOf[java.lang.Long].longValue)
      case (FLOAT, null) =>
        val f = v.asInstanceOf[java.lang.Float].floatValue
        if (f.isNaN) None else Some(f)
      case (DOUBLE, null) =>
        val d = v.asInstanceOf[java.lang.Double].doubleValue
        if (d.isNaN) None else Some(d)
      case (BINARY, _: StringLogicalTypeAnnotation) =>
        Some(UTF8String.fromBytes(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes))
      case _ => None
    }
  }

  /** Total order matching Catalyst comparison semantics for the
    * internal forms above. ±0.0 compare equal (SQL `=` semantics);
    * NaN never reaches here (filtered in [[toCatalyst]]).
    */
  val ord: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = cmp(a, b).getOrElse(
      throw new IllegalArgumentException(s"incomparable stats values: $a vs $b"))
  }

  /** ORC file footers carry the same per-column statistics; read
    * them into the same [[ColRange]] form so the skipping tier is
    * format-general. ORC integer stats are Longs regardless of the
    * declared width, so `int`-typed columns narrow to Int to match
    * the Catalyst literals Spark pushes; types whose stats don't map
    * cleanly (dates, timestamps, decimals, booleans) are omitted.
    */
  def readOrc(conf: Configuration, path: String): Map[String, ColRange] = {
    statsReads.incrementAndGet()
    Try {
      import org.apache.orc.{OrcFile, TypeDescription}
      val reader = OrcFile.createReader(new Path(path), OrcFile.readerOptions(conf))
      try {
        val schema = reader.getSchema
        if (schema.getCategory != TypeDescription.Category.STRUCT) Map.empty[String, ColRange]
        else {
          val names = schema.getFieldNames.asScala.toSeq
          val kids = schema.getChildren.asScala.toSeq
          val stats = reader.getStatistics // index 0 = root struct, then preorder
          val totalRows = reader.getNumberOfRows
          names.zip(kids).zipWithIndex.flatMap { case ((name, kid), i) =>
            // top-level column i's stats sit at its type id (preorder)
            val s = stats(kid.getId)
            if (s.getNumberOfValues == 0 && totalRows > 0)
              Some(name -> ColRange(null, null, allNulls = true))
            else orcRange(kid, s).map(name -> _)
          }.toMap
        }
      } finally reader.close()
    }.getOrElse(Map.empty)
  }

  private def orcRange(tpe: org.apache.orc.TypeDescription,
      s: org.apache.orc.ColumnStatistics): Option[ColRange] = {
    import org.apache.orc.TypeDescription.Category
    s match {
      case i: org.apache.orc.IntegerColumnStatistics if i.getNumberOfValues > 0 =>
        val noNulls = !i.hasNull
        tpe.getCategory match {
          case Category.INT =>
            if (i.getMinimum >= Int.MinValue && i.getMaximum <= Int.MaxValue)
              Some(ColRange(i.getMinimum.toInt, i.getMaximum.toInt,
                allNulls = false, noNulls = noNulls))
            else None
          case Category.LONG =>
            Some(ColRange(i.getMinimum, i.getMaximum, allNulls = false, noNulls = noNulls))
          case _ => None // byte/short literals won't compare as Int
        }
      // FLOAT/DOUBLE: ORC's stats writer skips NaN when updating
      // min/max (unless NaN arrives first, which leaves a NaN bound
      // — rejected here), so a finite range can hide NaN rows. Same
      // contract as parquet footers: admit the range as mayHideNaN
      // and let the prover refuse max-side proofs.
      case d: org.apache.orc.DoubleColumnStatistics
          if d.getNumberOfValues > 0 && !d.getMinimum.isNaN && !d.getMaximum.isNaN =>
        tpe.getCategory match {
          case Category.FLOAT => // float→double stat conversion is exact; narrow back
            Some(ColRange(d.getMinimum.toFloat, d.getMaximum.toFloat,
              allNulls = false, noNulls = !d.hasNull, mayHideNaN = true))
          case Category.DOUBLE =>
            Some(ColRange(d.getMinimum, d.getMaximum,
              allNulls = false, noNulls = !d.hasNull, mayHideNaN = true))
          case _ => None
        }
      case st: org.apache.orc.StringColumnStatistics
          if st.getMinimum != null && st.getMaximum != null =>
        Some(ColRange(UTF8String.fromString(st.getMinimum),
          UTF8String.fromString(st.getMaximum),
          allNulls = false, noNulls = !st.hasNull))
      case _ => None
    }
  }

  /** None = not comparable (type mismatch) — callers must treat that
    * as "cannot prove anything".
    */
  def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Int, y: Int)       => Some(Integer.compare(x, y))
    case (x: Long, y: Long)     => Some(java.lang.Long.compare(x, y))
    case (x: Float, y: Float)   =>
      if (x.isNaN || y.isNaN) None
      else if (x == 0f && y == 0f) Some(0)
      else Some(java.lang.Float.compare(x, y))
    case (x: Double, y: Double) =>
      if (x.isNaN || y.isNaN) None
      else if (x == 0d && y == 0d) Some(0)
      else Some(java.lang.Double.compare(x, y))
    case (x: UTF8String, y: UTF8String) => Some(x.compareTo(y))
    case _ => None
  }
}
