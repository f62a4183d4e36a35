package graft.stats

import com.fasterxml.jackson.databind.JsonNode
import graft.log.Json
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, ZoneOffset}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Per-file statistics folded across parquet row-group footers:
  * numRecords, minValues, maxValues, nullCount — the shape the Delta
  * protocol stores as a JSON string in `add.stats` (reference
  * xdlake/delta_log/statistics.py:14-36, actions.py:216-218).
  *
  * Beyond the reference (which collects stats but never uses them —
  * its own TODO at xdlake/__init__.py:104), these stats feed driver-side
  * data skipping in [[graft.sources.DeltaScan]]: at 100 TB the win is not
  * the footer read, it's the files a query never opens.
  */
final case class Statistics(
    numRecords: Long,
    minValues: ListMap[String, JsonNode],
    maxValues: ListMap[String, JsonNode],
    nullCount: ListMap[String, JsonNode]
) {
  def json: String = {
    val o = Json.obj()
    o.put("numRecords", numRecords)
    // dotted keys ("s.a.b" — nested struct leaves) render as NESTED
    // objects, the Delta stats shape foreign engines expect
    def nested(m: ListMap[String, JsonNode]): JsonNode = {
      val root = Json.obj()
      m.foreach { case (k, v) =>
        val parts = k.split('.')
        var cur = root
        parts.dropRight(1).foreach { p =>
          cur = cur.get(p) match {
            case e: com.fasterxml.jackson.databind.node.ObjectNode => e
            case _ => val n = Json.obj(); cur.set[JsonNode](p, n); n
          }
        }
        cur.set[JsonNode](parts.last, v)
      }
      root
    }
    o.set[JsonNode]("minValues", nested(minValues))
    o.set[JsonNode]("maxValues", nested(maxValues))
    o.set[JsonNode]("nullCount", nested(nullCount))
    Json.mapper.writeValueAsString(o)
  }
}

object Statistics {

  // Full microsecond precision: Spark timestamps are µs-grained, and the
  // skipping pruner treats min/max as exact bounds. Writing ms-truncated
  // values (delta-rs style .SSS) would silently floor a max of
  // 10:00:00.999999 to .999 and let `ts > .999` wrongly prune the file.
  // Read-side widening in DataSkipping.parseStats covers foreign tables
  // that do write truncated stats.
  private val tsFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").withZone(ZoneOffset.UTC)

  /** Read footer metadata and fold min/max/nullCount across row groups.
    * Comparable scalar types only; binary and nested columns contribute
    * nullCount/numRecords but no min/max (SURVEY.md §7 "stats for
    * binary/string min-max").
    */
  def fromFooter(path: Path, conf: Configuration): Statistics =
    fromFooter(path, conf, _ => true)

  /** As above, collecting min/max/nullCount only for columns `keep`
    * accepts — the write path derives `keep` from delta's stats-scoping
    * properties (`delta.dataSkippingStatsColumns` /
    * `delta.dataSkippingNumIndexedCols`): on a 1000-column table,
    * unscoped per-file stats JSON dominates LOG size (10⁵ files × 10³
    * columns of min/max strings), and the log is replayed on every open.
    * numRecords is always collected (row-id ranging and metadata COUNT
    * depend on it).
    */
  def fromFooter(path: Path, conf: Configuration,
      keep: String => Boolean): Statistics = {
    // read options over the caller's conf: the no-conf overload builds a
    // fresh Hadoop Configuration (and parses its XML resources) per open,
    // a 10-30 ms cost on every file a write produces
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).build())
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum

      // column name -> (min, max, nullCount) accumulated across blocks
      var mins = ListMap.empty[String, Any]
      var maxs = ListMap.empty[String, Any]
      var nulls = ListMap.empty[String, Long]

      val msgType = reader.getFooter.getFileMetaData.getSchema
      // struct leaves (any depth) carry stats under their dotted path —
      // delta's nested-stats contract; paths through a REPEATED group
      // (arrays, maps) have no meaningful scalar bounds and are skipped
      def nonRepeatedPath(parts: Array[String]): Boolean = {
        var g: org.apache.parquet.schema.GroupType = msgType
        var i = 0
        while (i < parts.length) {
          val t =
            try g.getType(g.getFieldIndex(parts(i)))
            catch { case _: Exception => return false }
          if (t.getRepetition == org.apache.parquet.schema.Type.Repetition.REPEATED)
            return false
          if (i < parts.length - 1) {
            if (t.isPrimitive) return false
            g = t.asGroupType()
          }
          i += 1
        }
        true
      }

      for (block <- blocks; col <- block.getColumns.asScala) {
        val pathParts = col.getPath.toArray
        val dotted = pathParts.mkString(".")
        if (pathParts.nonEmpty && nonRepeatedPath(pathParts) && keep(dotted)) {
          val name = dotted
          val st = col.getStatistics
          if (st != null) {
            if (st.isNumNullsSet)
              nulls = nulls.updated(name, nulls.getOrElse(name, 0L) + st.getNumNulls)
            if (st.hasNonNullValue) {
              val prim = col.getPrimitiveType
              (convert(st.genericGetMin, prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation),
                convert(st.genericGetMax, prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation)) match {
                case (Some(mn), Some(mx)) =>
                  mins = mins.updated(name,
                    mins.get(name).map(cur => if (lt(mn, cur)) mn else cur).getOrElse(mn))
                  maxs = maxs.updated(name,
                    maxs.get(name).map(cur => if (lt(cur, mx)) mx else cur).getOrElse(mx))
                case _ =>
              }
            }
          }
        }
      }
      // string bounds truncate to 32 chars AFTER the cross-block fold
      // (truncate-then-compare could mis-order): min as a plain prefix
      // (still a valid lower bound), max as the prefix with its last
      // incrementable char bumped (still a valid upper bound) — delta-
      // spark's rule. Pruning stays conservative-correct and a 10 kB
      // string column no longer writes 20 kB of stats per file into the
      // log (at 10⁶ files that is gigabytes of pure log bloat).
      val truncMins = mins.map {
        case (k, s: String) => k -> (truncMinString(s): Any)
        case kv => kv
      }
      val truncMaxs = maxs.flatMap {
        case (k, s: String) => truncMaxString(s).map(t => k -> (t: Any))
        case kv => Some(kv)
      }
      Statistics(
        numRecords,
        truncMins.map { case (k, v) => k -> toNode(v) },
        truncMaxs.map { case (k, v) => k -> toNode(v) },
        nulls.map { case (k, v) => k -> Json.num(v) })
    } finally reader.close()
  }

  /** Delta's string-stats width. */
  private[graft] val StringStatsMaxLen = 32

  /** ≤32-char prefix cut at a CODE POINT boundary — a cut landing on the
    * high half of a surrogate pair backs off one unit, so the bound is
    * always well-formed Unicode (an unpaired surrogate is malformed UTF-8
    * to a foreign delta reader). A shorter prefix is still a lower bound.
    */
  private[graft] def truncMinString(s: String): String =
    if (s.length <= StringStatsMaxLen) s
    else {
      val cut =
        if (Character.isHighSurrogate(s.charAt(StringStatsMaxLen - 1)) &&
            Character.isLowSurrogate(s.charAt(StringStatsMaxLen)))
          StringStatsMaxLen - 1
        else StringStatsMaxLen
      s.substring(0, cut)
    }

  /** 32-char (code-point-boundary) prefix with the rightmost incrementable
    * CODE POINT bumped — a string STRICTLY above every string sharing the
    * prefix in BOTH UTF-16 (this repo's compareTo pruner) and UTF-8 /
    * code-point order (foreign readers). Increments skip the surrogate
    * block (U+D7FF → U+E000) so the bound stays well-formed; U+FFFF and
    * U+10FFFF are treated as non-incrementable (bumping U+FFFF to a
    * supplementary char would sort BELOW it in UTF-16 order — the one
    * increment the two orders disagree on). None when no code point can
    * be bumped (the column goes max-less, i.e. unbounded).
    */
  private[graft] def truncMaxString(s: String): Option[String] =
    if (s.length <= StringStatsMaxLen) Some(s)
    else {
      val prefix = truncMinString(s)
      // walk code points right-to-left looking for one we can bump
      var i = prefix.length
      while (i > 0) {
        val cpStart = prefix.offsetByCodePoints(i, -1)
        val cp = prefix.codePointAt(cpStart)
        val bumped =
          if (cp == 0xD7FF) 0xE000                       // skip surrogates
          else if (cp == 0xFFFF || cp == 0x10FFFF) -1    // not incrementable
          else cp + 1
        if (bumped >= 0)
          return Some(prefix.substring(0, cpStart) +
            new String(Character.toChars(bumped)))
        i = cpStart
      }
      None
    }

  /** Parquet-physical value → comparable JVM value with Delta JSON
    * rendering semantics. NaN is excluded from min/max (meaningless bound).
    */
  private def convert(v: Any, prim: PrimitiveTypeName,
      logical: LogicalTypeAnnotation): Option[Any] = (prim, logical) match {
    case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) =>
      Some(LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue()).toString)
    case (PrimitiveTypeName.INT64, ts: TimestampLogicalTypeAnnotation) =>
      val raw = v.asInstanceOf[Number].longValue()
      val micros = ts.getUnit match {
        case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
        case LogicalTypeAnnotation.TimeUnit.MICROS => raw
        case LogicalTypeAnnotation.TimeUnit.NANOS  => raw / 1000L
      }
      Some(tsFormatter.format(Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)))
    case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) =>
      Some(v.asInstanceOf[Binary].toStringUsingUTF8)
    case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64, _) =>
      Some(v.asInstanceOf[Number].longValue())
    case (PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE, _) =>
      val d = v.asInstanceOf[Number].doubleValue()
      if (d.isNaN) None else Some(d)
    case (PrimitiveTypeName.BOOLEAN, _) => Some(v.asInstanceOf[Boolean])
    case _ => None // binary, int96, fixed-len: no min/max
  }

  private[graft] def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long)       => x < y
    case (x: Double, y: Double)   => x < y
    case (x: String, y: String)   => x < y
    case (x: Boolean, y: Boolean) => !x && y
    case _                        => false
  }

  private def toNode(v: Any): JsonNode = v match {
    case l: Long    => Json.num(l)
    case d: Double  => Json.num(d)
    case s: String  => Json.text(s)
    case b: Boolean => Json.bool(b)
    case other      => Json.text(other.toString)
  }
}
