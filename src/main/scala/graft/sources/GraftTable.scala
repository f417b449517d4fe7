package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap
import scala.jdk.CollectionConverters._

/** Mutable-table DML over parquet — INSERT / DELETE / UPDATE / MERGE
  * (reference `src/execution/operator/persistent/physical_insert.cpp`,
  * `physical_delete.cpp`, `physical_update.cpp`), re-expressed for Spark as
  * a minimal MANIFEST-BASED table with DELETION VECTORS: the lakehouse
  * pattern (immutable data files + a versioned file manifest + an atomic
  * current pointer), where a DELETE marks row positions instead of
  * rewriting files. The reference keeps deleted and updated rows as
  * versioned markers and reclaims them at CHECKPOINT; its transaction-local
  * MVCC undo state has no Spark analog (executors cannot share it; files
  * are the unit of atomicity a distributed FS actually gives you), so the
  * markers live in the manifest and [[compact]] is the checkpoint.
  *
  * Layout under a table root:
  * {{{
  *   data/<uuid>/part-*.parquet     immutable data files (never modified)
  *   _manifests/v<N>.manifest      one data-file entry per line: the
  *                                 relative path, then optional
  *                                 TAB-separated `col=min,max` stats
  *                                 fields (URL-encoded), a `#rows=<n>`
  *                                 field (the file's row count, from its
  *                                 footer), then an optional
  *                                 `#dv=<base64>` field: the file's
  *                                 deletion vector, a serialized
  *                                 RoaringBitmap of deleted
  *                                 `_metadata.row_index` values (a
  *                                 URL-encoded column name never starts
  *                                 with `#`); legacy path-only lines
  *                                 remain readable
  *   _schema.json                  StructType of the table (create-time)
  *   _current                      the committed version number N
  * }}}
  *
  * Scale posture (the part that must survive 100 TB):
  *  - INSERT appends new files and a new manifest — zero data rewritten.
  *  - Every commit records per-file MIN/MAX stats for the table's
  *    atomic comparable columns in the manifest line itself (the same
  *    data-skipping envelope Iceberg/Delta keep in their logs; reference
  *    analog: per-row-group zone maps,
  *    `src/storage/statistics/numeric_stats.cpp`, kept on the append
  *    path). They come from the parquet footers the write just produced,
  *    read in the writing JVM with no Spark job; only columns a footer keeps no
  *    bounds for (INT96 timestamps, strings past parquet-mr's 4 KB stats
  *    limit) cost one aggregate over the files that lack them. A deletion
  *    vector leaves a file's envelope a sound superset.
  *  - DELETE/UPDATE/MERGE rewrite NO existing file. Matching rows are
  *    found in two pruning layers: (1) MANIFEST pruning — the predicate's
  *    `col (=,<,<=,>,>=,IN) literal` conjuncts (and MERGE's source-key
  *    min/max range) are intersected with each file's stats envelope
  *    while planning, dropping files that cannot match WITHOUT opening them —
  *    at 10⁶ files a point DELETE plans against the manifest, not the
  *    filesystem; then (2) one scan of the surviving candidates (parquet
  *    pushdown / row-group pruning skips within them) collects the
  *    matching rows' `(file, row_index)` positions as per-file bitmaps,
  *    built on the executors. The positions join the files' deletion
  *    vectors; UPDATE and MERGE also append the rows' new values, from
  *    the same scan, as one new file. A DELETE writes no data at all. A
  *    file whose vector comes to cover its `#rows=` count leaves the
  *    manifest at once (an entry without the field stays until
  *    [[compact]]).
  *  - A read filters each file that carries a deletion vector by one
  *    expression holding all the bitmaps (its plan does not grow with
  *    them); a table without deletion vectors is a plain parquet scan.
  *  - [[compact]] rewrites every file that carries a deletion vector, so
  *    deleted rows are physically dropped there, as the reference's
  *    CHECKPOINT does.
  *  - Old versions stay readable (time travel / snapshot isolation for
  *    concurrent readers): `read(spark, root, Some(v))`.
  *
  * Single-writer contract: commits are last-writer-wins on the `_current`
  * pointer (atomic file move). Multi-writer coordination (optimistic
  * retry on a shared log) is a table-format concern out of scope here,
  * exactly as MVCC is in SURVEY §2.1.
  */
object GraftTable {

  private def abs(root: String, rel: String) = s"$root/$rel"

  private def writePointer(root: String, v: Int): Unit = {
    val tmp = Paths.get(s"$root/_current.tmp")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, Paths.get(s"$root/_current"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def currentVersion(root: String): Int =
    Files.readString(Paths.get(s"$root/_current")).trim.toInt

  def schemaOf(root: String): StructType =
    DataType.fromJson(Files.readString(Paths.get(s"$root/_schema.json")))
      .asInstanceOf[StructType]

  private def manifestLines(root: String, v: Int): Seq[String] =
    Files.readAllLines(Paths.get(s"$root/_manifests/v$v.manifest"))
      .asScala.toSeq.filter(_.nonEmpty)

  /** Data-file entries of a manifest: full lines (path + optional stats
    * fields), comments stripped. */
  private def manifest(root: String, v: Int): Seq[String] =
    manifestLines(root, v).filterNot(_.startsWith("#"))

  /** Root-relative data-file path of a manifest entry line. */
  private def entryPath(line: String): String = line.takeWhile(_ != '\t')

  // ------------------------------------------------- deletion vectors
  //
  // A file's deleted rows are a RoaringBitmap of their `_metadata.row_index`
  // values, keyed in a scan by `_metadata.file_name`: Spark names every
  // part file after its write job's UUID, so base names are unique within
  // a table.

  private val DvField = "#dv="
  private val RowsField = "#rows="
  private val FileCol = "__graft_file"
  private val PosCol = "__graft_pos"

  private def fileName(line: String): String = {
    val p = entryPath(line)
    p.substring(p.lastIndexOf('/') + 1)
  }

  private def encodeDv(b: RoaringBitmap): String = {
    b.runOptimize()
    val buf = java.nio.ByteBuffer.allocate(b.serializedSizeInBytes)
    b.serialize(buf)
    java.util.Base64.getEncoder.encodeToString(buf.array)
  }

  private def decodeDv(s: String): RoaringBitmap = {
    val b = new RoaringBitmap
    b.deserialize(java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s)))
    b
  }

  /** The deletion vector of an entry line, if it has one. */
  private def entryDv(line: String): Option[RoaringBitmap] =
    line.split('\t').find(_.startsWith(DvField)).map(f => decodeDv(f.substring(DvField.length)))

  /** The file's row count, if the entry records one. */
  private def entryRows(line: String): Option[Long] =
    line.split('\t').find(_.startsWith(RowsField)).map(_.substring(RowsField.length).toLong)

  /** Entries with the deleted positions of `hits` (file name → rows) added
    * to their deletion vectors; an entry whose vector then covers its
    * recorded row count leaves the manifest, so no read opens the file. */
  private def markDeleted(entries: Seq[String], hits: Map[String, RoaringBitmap]): Seq[String] =
    entries.flatMap { e =>
      hits.get(fileName(e)).fold(Option(e)) { deleted =>
        val dv = entryDv(e).fold(deleted)(RoaringBitmap.or(_, deleted))
        if (entryRows(e).contains(dv.getLongCardinality)) None
        else Some((e.split('\t').toSeq.filterNot(_.startsWith(DvField)) :+
          (DvField + encodeDv(dv))).mkString("\t"))
      }
    }

  /** TRUE for a row whose position is in its file's bitmap. */
  private def inBitmaps(bitmaps: Map[String, RoaringBitmap]): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(InBitmaps(Bridge.expression(col("_metadata.file_name")),
      Bridge.expression(col("_metadata.row_index")), new Bitmaps(bitmaps)))
  }

  /** Positions of `df`'s rows (its `FileCol`/`PosCol` columns) as one bitmap
    * per file, built on the executors: the collect returns bitmaps,
    * never rows. */
  private def positions(df: DataFrame): Map[String, RoaringBitmap] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(FileCol), col(PosCol)).as[(String, Long)].mapPartitions { rows =>
      val byFile = scala.collection.mutable.HashMap.empty[String, RoaringBitmap]
      rows.foreach { case (f, p) =>
        byFile.getOrElseUpdate(f, new RoaringBitmap).add(Math.toIntExact(p)) }
      byFile.iterator.map { case (f, b) => (f, encodeDv(b)) }
    }.collect().toSeq.groupMapReduce(_._1)(p => decodeDv(p._2))(RoaringBitmap.or(_, _))
  }

  // ------------------------------------------------- file-stats envelope
  //
  // Stat values live in a two-family comparable domain: NUMBERS (all
  // numerics, plus date→epoch-day, timestamp→epoch-µs, boolean→0/1,
  // compared as BigDecimal) and STRINGS (compared by UTF-8 byte order —
  // matching Spark's UTF8String binary comparison, NOT Java's UTF-16
  // code-unit order, which diverges on supplementary characters).

  private[sources] sealed trait SV { def cmp(o: SV): Int }
  private[sources] final case class NumV(v: BigDecimal) extends SV {
    def cmp(o: SV): Int = v.compare(o.asInstanceOf[NumV].v)
  }
  private[sources] final case class StrV(v: String) extends SV {
    def cmp(o: SV): Int = {
      val a = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = o.asInstanceOf[StrV].v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
  }
  private def sameFamily(a: SV, b: SV): Boolean =
    (a, b) match { case (_: NumV, _: NumV) => true; case (_: StrV, _: StrV) => true; case _ => false }

  import org.apache.spark.sql.types.{BooleanType, DateType, NumericType,
    StringType, TimestampNTZType, TimestampType}

  private[sources] def statEligible(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType |
         TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** Canonical string encoding of an EXTERNAL (collected) value; None for
    * non-comparable values (NaN/Infinity poison interval math).
    *
    * Two precision traps pinned by StatsPruneSpec:
    *  - java.sql.Timestamp: `getTime` is SIGNED millis and `getNanos` the
    *    POSITIVE sub-second part, so pre-1970 values need floorDiv — plain
    *    `/1000` truncates toward zero and flips the fraction's sign
    *    (1969-12-31T23:59:59.5 would encode as +0.5 s).
    *  - Float: comparisons against literals happen in DOUBLE space (Spark
    *    widens), so the stat must be the float's exact WIDENED double
    *    expansion — Float.toString's shortest repr ("0.3") decodes to a
    *    decimal BELOW the widened value (0.30000001…) and boundary
    *    predicates would prune files that contain matches. */
  private[sources] def encodeExternal(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some(s)
    case b: Boolean => Some(if (b) "1" else "0")
    case d: Double if d.isNaN || d.isInfinite => None
    case f: Float if f.isNaN || f.isInfinite => None
    case f: java.lang.Float =>
      Some(new java.math.BigDecimal(f.doubleValue).toPlainString)
    case d: java.lang.Double =>
      // Exact binary expansion, NOT toString's shortest repr: a double
      // literal equal to a widened float (e.g. 0.30000001192092896 vs the
      // exact ...955078125) must encode identically on the stats side and
      // the literal side or canMatch prunes files that contain matches.
      Some(new java.math.BigDecimal(d.doubleValue).toPlainString)
    case t: java.sql.Timestamp =>
      Some((Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString)
    case i: java.time.Instant =>
      Some((i.getEpochSecond * 1000000L + i.getNano / 1000).toString)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toString)
    case d: java.time.LocalDate => Some(d.toEpochDay.toString)
    case d: java.time.LocalDateTime =>
      Some((d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        d.getNano / 1000).toString)
    case n: java.math.BigDecimal => Some(n.toPlainString)
    case n: BigDecimal => Some(n.bigDecimal.toPlainString)
    case n: Number => Some(n.toString)
    case _ => None
  }

  /** Decode a stored stat string into the comparable domain of `dt`. */
  private def decodeStat(s: String, dt: DataType): Option[SV] = dt match {
    case StringType => Some(StrV(s))
    case _ => try Some(NumV(BigDecimal(s))) catch { case _: NumberFormatException => None }
  }

  /** Catalyst literal (INTERNAL representation: UTF8String, µs longs,
    * epoch days) → comparable domain. */
  private def encodeLiteral(
      lit: org.apache.spark.sql.catalyst.expressions.Literal): Option[SV] = {
    if (lit.value == null) return None
    lit.dataType match {
      case StringType => Some(StrV(lit.value.toString))
      case BooleanType => Some(NumV(if (lit.value == true) 1 else 0))
      case DateType | TimestampType | TimestampNTZType =>
        Some(NumV(BigDecimal(lit.value.toString))) // Int days / Long µs
      case _: NumericType => lit.value match {
        case d: org.apache.spark.sql.types.Decimal => Some(NumV(d.toBigDecimal))
        case d: Double if d.isNaN || d.isInfinite => None
        case f: Float if f.isNaN || f.isInfinite => None
        case f: java.lang.Float => // widen exactly, as encodeExternal does
          Some(NumV(BigDecimal(new java.math.BigDecimal(f.doubleValue))))
        case d: java.lang.Double => // exact expansion, as encodeExternal does
          Some(NumV(BigDecimal(new java.math.BigDecimal(d.doubleValue))))
        case n => try Some(NumV(BigDecimal(n.toString)))
          catch { case _: NumberFormatException => None }
      }
      case _ => None
    }
  }

  /** Wide string columns (documents.text) must not put two full document
    * bodies on every manifest entry line — at 10^6 files manifest size and
    * driver-side parse cost would grow with value length. Iceberg/Delta
    * truncate bounds the same way: a PREFIX is a sound lower bound under
    * byte-wise comparison, and a prefix with one char bumped is a sound
    * strict upper bound. */
  private[sources] val StatStringMaxLen = 32

  /** Sound lower-bound prefix (cut at a code-point boundary so the UTF-8
    * bytes stay a prefix of the original's). */
  private[sources] def truncMin(s: String): String =
    if (s.length <= StatStringMaxLen) s
    else {
      var cut = StatStringMaxLen
      if (Character.isHighSurrogate(s.charAt(cut - 1))) cut -= 1
      s.substring(0, cut)
    }

  /** Sound strict upper bound: prefix with its last bumpable char
    * incremented (UTF-8 preserves code-point order, so a greater char ⇒
    * greater bytes at the first divergence). A char is bumpable when +1
    * cannot land in the surrogate range (which would encode as '?' and
    * break ordering). None when no prefix char is bumpable — caller then
    * omits the whole stats field (readers treat absence as "must keep"). */
  private[sources] def truncMax(s: String): Option[String] =
    if (s.length <= StatStringMaxLen) Some(s)
    else {
      def bumpable(c: Char) =
        c < 0xD7FF.toChar || (c >= 0xE000.toChar && c < 0xFFFF.toChar)
      var i = StatStringMaxLen - 1
      while (i >= 0 && !bumpable(s.charAt(i))) i -= 1
      if (i < 0) None
      else Some(s.substring(0, i) + (s.charAt(i) + 1).toChar)
    }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Parse an entry line's stats fields: col → (minStr, maxStr). */
  private def entryStats(line: String): Map[String, (String, String)] =
    line.split('\t').toSeq.drop(1).flatMap { f =>
      val eq = f.indexOf('=')
      if (eq < 0 || f.startsWith("#")) None
      else {
        val c = f.indexOf(',', eq)
        if (c < 0) None
        else Some(dec(f.substring(0, eq)) ->
          (dec(f.substring(eq + 1, c)), dec(f.substring(c + 1))))
      }
    }.toMap

  /** One closed/open interval constraint on a column; a file whose
    * [min,max] envelope is disjoint from EVERY constraint's interval
    * cannot contain a matching row. */
  private[sources] final case class Constraint(col: String,
      lo: Option[SV], loInc: Boolean, hi: Option[SV], hiInc: Boolean)

  /** Extract sound pruning constraints from a predicate: top-level AND
    * conjuncts of the shape `col (=,==,<=>,<,<=,>,>=) literal` or
    * `col IN (literals)`. Anything else (OR, functions, casts, column-to-
    * column) contributes nothing — conservative, never unsound. The
    * constraints are null-rejecting by construction (`c = 5` can't match
    * a null), so files whose min/max don't cover the interval are safe to
    * skip even when they hold nulls; `c <=> NULL` yields no constraint.
    *
    * The tree comes from `Bridge.catalystExpression`, which leaves
    * comparison operators as `UnresolvedFunction("=", …)` nodes (no
    * analyzer pass) — matching is on operator NAME, with both argument
    * orders accepted. */
  private[sources] def extractConstraints(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Constraint] = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    // Only SINGLE-part names yield constraints: a struct-field reference
    // `s.x` has nameParts ["s","x"], and keying it on "x" would let an
    // unrelated top-level column x's stats prune files unsoundly.
    def name(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => Some(a.name)
      case _ => None
    }
    // (attr, literal-value, flipped?) for a binary comparison's args
    def sides(args: Seq[Expression]): Option[(String, SV, Boolean)] = args match {
      case Seq(a, l: Literal) =>
        (name(a), encodeLiteral(l)) match {
          case (Some(n), Some(v)) => Some((n, v, false)); case _ => None
        }
      case Seq(l: Literal, a) =>
        (name(a), encodeLiteral(l)) match {
          case (Some(n), Some(v)) => Some((n, v, true)); case _ => None
        }
      case _ => None
    }
    e match {
      case UnresolvedFunction(fn, args, false, _, _, _, _) =>
        fn.map(_.toLowerCase).mkString(".") match {
          case "and" => args.flatMap(extractConstraints)
          case "=" | "==" | "<=>" => sides(args).map { case (n, v, _) =>
            Constraint(n, Some(v), true, Some(v), true) }.toSeq
          case ">" => sides(args).map { case (n, v, flip) =>
            if (!flip) Constraint(n, Some(v), false, None, true)   // col > v
            else Constraint(n, None, true, Some(v), false) }.toSeq // v > col
          case ">=" => sides(args).map { case (n, v, flip) =>
            if (!flip) Constraint(n, Some(v), true, None, true)
            else Constraint(n, None, true, Some(v), true) }.toSeq
          case "<" => sides(args).map { case (n, v, flip) =>
            if (!flip) Constraint(n, None, true, Some(v), false)
            else Constraint(n, Some(v), false, None, true) }.toSeq
          case "<=" => sides(args).map { case (n, v, flip) =>
            if (!flip) Constraint(n, None, true, Some(v), true)
            else Constraint(n, Some(v), true, None, true) }.toSeq
          case "in" if args.length >= 2 &&
              args.tail.forall { case l: Literal => l.value != null; case _ => false } =>
            val vs = args.tail.map { case l: Literal => encodeLiteral(l) }
            (name(args.head), vs) match {
              case (Some(n), svOpts) if svOpts.forall(_.isDefined) =>
                val svs = svOpts.map(_.get)
                if (!svs.forall(sameFamily(_, svs.head))) Nil
                else Seq(Constraint(n,
                  Some(svs.reduce((x, y) => if (x.cmp(y) <= 0) x else y)), true,
                  Some(svs.reduce((x, y) => if (x.cmp(y) >= 0) x else y)), true))
              case _ => Nil
            }
          case _ => Nil
        }
      case _ => Nil
    }
  }

  /** Can the file behind `line` possibly hold a row matching every
    * constraint? Missing stats (legacy line, all-null file, family
    * mismatch) → must keep. `types` is the schema's name→type map,
    * precomputed once per prune (this runs once per MANIFEST LINE — at
    * 10⁶ files a per-file linear field scan would dominate the prune). */
  private def canMatch(line: String, cs: Seq[Constraint],
      types: Map[String, DataType]): Boolean = {
    if (cs.isEmpty) return true
    val stats = entryStats(line)
    cs.forall { c =>
      (stats.get(c.col), types.get(c.col)) match {
        case (Some((mnS, mxS)), Some(dt)) =>
          (decodeStat(mnS, dt), decodeStat(mxS, dt)) match {
            case (Some(mn), Some(mx))
                if c.lo.forall(sameFamily(_, mn)) && c.hi.forall(sameFamily(_, mx)) =>
              val okHi = c.hi.forall(h =>
                { val d = mn.cmp(h); d < 0 || (d == 0 && c.hiInc) })
              val okLo = c.lo.forall(l =>
                { val d = mx.cmp(l); d > 0 || (d == 0 && c.loInc) })
              okHi && okLo
            case _ => true
          }
        case _ => true
      }
    }
  }

  private def typeMap(schema: StructType): Map[String, DataType] =
    schema.fields.map(f => f.name -> f.dataType).toMap

  /** Manifest entries of the current version that survive stats pruning
    * against `pred` — the driver-side skip layer (exposed for tests). */
  private[sources] def candidateEntries(root: String, pred: Column): Seq[String] =
    candidates(root, manifest(root, currentVersion(root)), pred)

  private def candidates(root: String, entries: Seq[String], pred: Column): Seq[String] = {
    val cs = extractConstraints(org.apache.spark.sql.graft.Bridge.catalystExpression(pred))
    val types = typeMap(schemaOf(root))
    entries.filter(canMatch(_, cs, types))
  }

  /** Commit a new version. `txn` stamps the manifest with a streaming
    * transaction marker (`# txn <name> <id>`) IN the same atomic file
    * move as the file list — so "batch applied" and "batch recorded" are
    * one write, the property idempotent micro-batch replay needs (the
    * same reason production table formats put txn app-ids in the commit
    * log itself, not a sidecar). */
  private def commit(root: String, files: Seq[String],
      txn: Option[(String, Long)] = None): Int = {
    val v = currentVersion(root) + 1
    val header = txn.map { case (n, id) => s"# txn $n $id" }.toSeq
    val tmp = Paths.get(s"$root/_manifests/v$v.manifest.tmp")
    Files.writeString(tmp, (header ++ files).mkString("\n"))
    Files.move(tmp, Paths.get(s"$root/_manifests/v$v.manifest"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    writePointer(root, v)
    v
  }

  /** Latest committed batch id for a named streaming transaction, scanning
    * manifests newest-first (O(#versions) driver-side file reads — the
    * table's own transaction log, not data). The downward scan stops at
    * the oldest RETAINED manifest: [[vacuum]] deletes the contiguous
    * prefix v1..cutoff-1, so the first missing file marks the retention
    * horizon — without the stop, the first batch of a NEW query name on a
    * vacuumed table would walk past the horizon into NoSuchFileException
    * instead of returning None. */
  def lastTxn(root: String, name: String): Option[Long] = {
    val prefix = s"# txn $name "
    (currentVersion(root) to 1 by -1).iterator
      .takeWhile(v => Files.exists(Paths.get(s"$root/_manifests/v$v.manifest")))
      .flatMap(v => manifestLines(root, v).find(_.startsWith(prefix)))
      .map(_.stripPrefix(prefix).trim.toLong)
      .nextOption()
  }

  /** Write `df` as new immutable data files; returns their MANIFEST
    * ENTRY LINES (path + per-file min/max stats fields). An empty frame
    * may legitimately produce zero files — callers handle empty manifests
    * via the schema sidecar. */
  private def writeFiles(df: DataFrame, root: String): Seq[String] = {
    val rel = s"data/${java.util.UUID.randomUUID}"
    df.write.parquet(abs(root, rel))
    val dir = new org.apache.hadoop.fs.Path(abs(root, rel))
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val files = dir.getFileSystem(conf).listStatus(dir).toSeq
      .filter { st => val n = st.getPath.getName
        n.startsWith("part-") && n.endsWith(".parquet") }
      .sortBy(_.getPath.getName)
    if (files.isEmpty) Nil
    else statsLines(df.sparkSession, root, rel, files, df.schema)
  }

  /** What one file's footer says about one column. */
  private sealed trait FooterStat
  /** No non-null value, or a float/double NaN (parquet-mr drops min/max
    * from a chunk that holds one): the field is omitted. */
  private case object Omit extends FooterStat
  /** Values present but no usable footer bounds: INT96 timestamps (parquet
    * keeps no INT96 stats), strings past parquet-mr's 4 KB stats limit. */
  private case object Rescan extends FooterStat
  /** External min/max, in the form a Spark scan would return them. */
  private final case class Bounds(min: Any, max: Any) extends FooterStat

  /** Fold one column's chunk statistics over every row group of a footer
    * (parquet's own merge, with the column's own comparator) and decode
    * the result to external values. */
  private def footerStat(meta: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      f: org.apache.spark.sql.types.StructField): FooterStat = {
    import org.apache.spark.sql.types._
    val path = org.apache.parquet.hadoop.metadata.ColumnPath.get(f.name)
    val stats = meta.getBlocks.asScala.toSeq
      .flatMap(_.getColumns.asScala.find(_.getPath == path))
      .filterNot { c => val s = c.getStatistics
        s.isNumNullsSet && s.getNumNulls == c.getValueCount }
      .map(_.getStatistics)
    if (stats.isEmpty) Omit
    else if (!stats.forall(_.hasNonNullValue))
      f.dataType match { case FloatType | DoubleType => Omit; case _ => Rescan }
    else {
      val all = stats.head.copy()
      stats.tail.foreach(all.mergeStatistics)
      def external(v: Any): Option[Any] = (f.dataType, v) match {
        case (ByteType | ShortType | IntegerType | LongType | FloatType |
              DoubleType | BooleanType | DateType | TimestampNTZType, _) => Some(v)
        case (d: DecimalType, u) =>
          val unscaled = u match {
            case b: org.apache.parquet.io.api.Binary => new java.math.BigInteger(b.getBytes)
            case n: Number => java.math.BigInteger.valueOf(n.longValue)
          }
          Some(new java.math.BigDecimal(unscaled, d.scale))
        case (StringType, b: org.apache.parquet.io.api.Binary) => Some(b.toStringUsingUTF8)
        case _ => None // TimestampType: Spark writes INT96, which keeps no stats
      }
      (external(all.genericGetMin), external(all.genericGetMax)) match {
        case (Some(mn), Some(mx)) => Bounds(mn, mx)
        case _ => Rescan
      }
    }
  }

  /** Per-file min/max stats for the eligible columns and the file's row
    * count, folded into the manifest entry lines. They come from the
    * freshly written files' parquet footers, read in the writing JVM (no
    * Spark job). Only the columns some footer has no bounds for go through
    * one aggregate over the files that lack them (the collect is #files ×
    * #cols scalars, never rows). A column that is all-null in a file (or
    * non-comparable: NaN/±Inf) simply omits its field — readers treat
    * absence as "must keep". */
  private def statsLines(spark: SparkSession, root: String, rel: String,
      files: Seq[org.apache.hadoop.fs.FileStatus], schema: StructType): Seq[String] = {
    val relFiles = files.map(st => s"$rel/${st.getPath.getName}")
    val cols = schema.fields.toSeq.filter(f => statEligible(f.dataType))
    val conf = spark.sparkContext.hadoopConfiguration
    val footers = org.apache.spark.sql.graft.Bridge.parmap(files, "graft-footers", 8) { st =>
      val meta = org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
        .readFooter(org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
          org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      (meta.getBlocks.asScala.map(_.getRowCount).sum,
        cols.map(f => f.name -> footerStat(meta, f)).toMap)
    }
    val rowCounts = relFiles.zip(footers.map(_._1)).toMap
    val byFooter = relFiles.zip(footers.map(_._2)).toMap
    val rescanCols = cols.filter(f => byFooter.values.exists(_(f.name) == Rescan))
    val rescanFiles = relFiles.filter(p => rescanCols.exists(f => byFooter(p)(f.name) == Rescan))
    val rescanned: Map[String, Map[String, FooterStat]] =
      if (rescanFiles.isEmpty) Map.empty
      else {
        val aggs = rescanCols.flatMap(f =>
          Seq(min(col(f.name)).as(s"__mn_${f.name}"),
              max(col(f.name)).as(s"__mx_${f.name}")))
        spark.read.schema(schema).parquet(rescanFiles.map(abs(root, _)): _*)
          .groupBy(input_file_name().as("__file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            relativize(root, r.getString(0)) -> rescanCols.zipWithIndex.map { case (f, ix) =>
              f.name -> Bounds(r.get(1 + ix * 2), r.get(2 + ix * 2)) }.toMap
          }.toMap
      }
    relFiles.map { p =>
      val stats = byFooter(p) ++ rescanned.getOrElse(p, Map.empty)
      val fields = cols.flatMap { f =>
        stats(f.name) match {
          case Bounds(mn, mx) => (encodeExternal(mn), encodeExternal(mx)) match {
            case (Some(a), Some(b)) if f.dataType == StringType =>
              truncMax(b).map(bb => s"${enc(f.name)}=${enc(truncMin(a))},${enc(bb)}")
            case (Some(a), Some(b)) => Some(s"${enc(f.name)}=${enc(a)},${enc(b)}")
            case _ => None
          }
          case _ => None
        }
      }
      (p +: fields :+ s"$RowsField${rowCounts(p)}").mkString("\t")
    }
  }

  /** Scan-reported file URI → root-relative manifest path. The scan
    * reports CANONICAL absolute paths, so the root is canonicalized too
    * before stripping (a relative root, trailing slash, or symlinked tmp
    * dir would otherwise silently fail to strip and poison the manifest
    * with absolute paths); a path outside the root is a hard error. */
  private def relativize(root: String, fileUri: String): String = {
    val canonicalRoot = new java.io.File(root).getCanonicalPath.stripSuffix("/")
    val p = new java.io.File(new java.net.URI(fileUri).getPath).getCanonicalPath
    if (!p.startsWith(canonicalRoot + "/"))
      throw new IllegalStateException(
        s"scan file '$p' is not under table root '$canonicalRoot'")
    p.stripPrefix(canonicalRoot + "/")
  }

  /** Create the table from `df` (version 1). */
  def create(spark: SparkSession, root: String, df: DataFrame): Unit = {
    Files.createDirectories(Paths.get(s"$root/_manifests"))
    Files.writeString(Paths.get(s"$root/_schema.json"), df.schema.json)
    writePointer(root, 0)
    commit(root, writeFiles(df, root))
  }

  /** Read a snapshot (default: current). Old versions remain readable —
    * data files are immutable and manifests are never rewritten. */
  def read(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame =
    scan(spark, root, manifest(root, version.getOrElse(currentVersion(root))))

  /** The live rows of manifest entries: each file with a deletion vector
    * is filtered by it, the others are scanned as they are. `located`
    * adds each row's `FileCol` / `PosCol` position. No entries: an empty
    * frame of the table schema. */
  private def scan(spark: SparkSession, root: String, entries: Seq[String],
      located: Boolean = false): DataFrame = {
    val schema = schemaOf(root)
    if (entries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val files = spark.read.schema(schema).parquet(entries.map(e => abs(root, entryPath(e))): _*)
    val dvs = entries.flatMap(e => entryDv(e).map(fileName(e) -> _)).toMap
    val live = if (dvs.isEmpty) files else files.filter(!inBitmaps(dvs))
    if (!located) live
    else live.select(col("*"), col("_metadata.file_name").as(FileCol),
      col("_metadata.row_index").as(PosCol))
  }

  /** RESTORE the table to an earlier snapshot (the Delta RESTORE
    * analog, and the rollback primitive of [[graft.sql.DuckDml]]'s
    * transactions): commits a NEW version whose manifest is the target
    * version's manifest verbatim — metadata only, no data movement
    * (files are immutable), stats and deletion vectors preserved, and
    * the discarded versions stay time-travel-readable until [[vacuum]]. */
  def restore(root: String, version: Int): Int = {
    require(version <= currentVersion(root),
      s"cannot restore $root to future version $version")
    commit(root, manifest(root, version))
  }

  /** CDC between two versions — the `table_changes` face of the
    * manifest design. Because data files are immutable, the delta lives
    * entirely in the manifest difference: a file both versions list with
    * the same deletion vector is NEVER read. A file only one version
    * lists contributes its live rows; a file both list with different
    * deletion vectors contributes only the positions one of them
    * deletes. Net row-level changes come from EXCEPT ALL over those rows
    * (multiset semantics: rows rewritten byte-identically cancel; an
    * UPDATE surfaces as delete(old) + insert(new)). Output = table
    * columns + `change_type` ('insert' | 'delete'). On a 100 TB table a
    * point update's CDC reads the handful of files it touched, nothing
    * else. */
  def changes(spark: SparkSession, root: String, fromV: Int, toV: Int): DataFrame = {
    def byPath(v: Int) = manifest(root, v).map(l => entryPath(l) -> l).toMap
    val (before, after) = (byPath(fromV), byPath(toV))
    val empty = new RoaringBitmap
    // rows version `a` shows and version `b` does not
    def gone(a: Map[String, String], b: Map[String, String]): DataFrame = {
      val whole = a.collect { case (p, l) if !b.contains(p) => l }.toSeq
      val newlyDeleted = a.toSeq.flatMap { case (p, l) =>
        b.get(p).map(lb => l -> RoaringBitmap.andNot(
          entryDv(lb).getOrElse(empty), entryDv(l).getOrElse(empty)))
          .filterNot(_._2.isEmpty)
      }
      val parts = Seq(whole).filter(_.nonEmpty).map(scan(spark, root, _)) ++
        Seq(newlyDeleted).filter(_.nonEmpty).map(d =>
          scan(spark, root, d.map(e => entryPath(e._1)))
            .filter(inBitmaps(d.map { case (l, b) => fileName(l) -> b }.toMap)))
      parts.reduceOption(_ unionAll _).getOrElse(scan(spark, root, Nil))
    }
    val (removed, added) = (gone(before, after), gone(after, before))
    val ins = added.exceptAll(removed).withColumn("change_type", lit("insert"))
    val del = removed.exceptAll(added).withColumn("change_type", lit("delete"))
    ins.unionAll(del)
  }

  /** Align `rows` to the table schema by name (missing column = error,
    * extra columns dropped, types cast) — INSERT-by-name semantics. */
  private def aligned(rows: DataFrame, schema: StructType): DataFrame =
    rows.select(schema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)

  /** INSERT: append-only — writes the new rows' files and a manifest that
    * is (old files ++ new files). No existing byte is rewritten. `txn`
    * marks the commit for idempotent streaming replay (see commit). */
  def insert(spark: SparkSession, root: String, rows: DataFrame,
      txn: Option[(String, Long)] = None): Unit = {
    val old = manifest(root, currentVersion(root))
    commit(root, old ++ writeFiles(aligned(rows, schemaOf(root)), root), txn)
  }

  /** DELETE WHERE pred: rows where the predicate is TRUE are removed
    * (NULL predicate keeps the row — SQL DELETE semantics). One scan of
    * the stats-pruned candidates collects the matching positions into the
    * files' deletion vectors; no data is written. Every call commits one
    * version, matches or not, so time travel and changes() stay
    * well-defined. */
  def delete(spark: SparkSession, root: String, pred: Column): Unit = {
    val entries = manifest(root, currentVersion(root))
    val hit = candidates(root, entries, pred)
    val deleted =
      if (hit.isEmpty) Map.empty[String, RoaringBitmap]
      else positions(scan(spark, root, hit, located = true).filter(pred))
    commit(root, markDeleted(entries, deleted))
  }

  /** The changed rows of one statement go to one new file. */
  private def writeChanged(rows: DataFrame, root: String): Seq[String] =
    writeFiles(rows.coalesce(1), root)

  /** UPDATE SET col = expr WHERE pred. `set` expressions see the pre-update
    * row (SQL UPDATE semantics — all assignments evaluated against the old
    * values). The matched rows are computed once, with their positions
    * and new values (cached, so a nondeterministic predicate marks exactly
    * the rows it rewrites): the positions join the deletion vectors, the
    * new rows go to one new file. */
  def update(spark: SparkSession, root: String, pred: Column,
      set: Map[String, Column]): Unit = {
    val schema = schemaOf(root)
    require(set.keySet.subsetOf(schema.fieldNames.toSet),
      s"unknown columns in SET: ${set.keySet -- schema.fieldNames}")
    val entries = manifest(root, currentVersion(root))
    val hit = candidates(root, entries, pred)
    if (hit.isEmpty) { commit(root, entries); return }
    val changed = scan(spark, root, hit, located = true).filter(pred)
      .select(col(FileCol) +: col(PosCol) +: schema.fields.toIndexedSeq.map(f =>
        set.get(f.name).fold(col(f.name))(_.cast(f.dataType)).as(f.name)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val deleted = positions(changed)
      commit(root, markDeleted(entries, deleted) ++
        (if (deleted.isEmpty) Nil else writeChanged(changed.drop(FileCol, PosCol), root)))
    } finally changed.unpersist(blocking = false)
  }

  /** MERGE (upsert): rows of `source` replace target rows with the same
    * key (WHEN MATCHED THEN UPDATE SET *) and are appended otherwise
    * (WHEN NOT MATCHED THEN INSERT *). Source keys must be unique — the
    * standard MERGE cardinality contract; duplicate source keys would
    * multiply target rows. Matched target rows are marked deleted and
    * re-appended with the source's values (one per matched target row,
    * so repeated target keys keep their multiplicity), together with the
    * unmatched source rows, as one new file; a pure-insert merge marks
    * nothing. */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): Unit = {
    val schema = schemaOf(root)
    // The source is evaluated several times below (key check, the join
    // with the target, the insert anti-join) — cache it for the duration
    // of the merge so an expensive source query (or a streaming
    // micro-batch) runs once.
    val src = aligned(source, schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeImpl(spark, root, schema, src, keys, txn)
    finally src.unpersist(blocking = false)
  }

  private def mergeImpl(spark: SparkSession, root: String,
      schema: StructType, src: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)]): Unit = {
    // One aggregate over the cached source answers two questions. (1) The
    // MERGE cardinality contract, enforced loudly: a duplicate source key
    // would silently multiply matched target rows through the join below.
    // (2) The source's key min/max prunes target files via the manifest
    // stats — a time-ordered upsert against a time-partitioned table
    // touches only the recent files' envelopes, never the archive. The
    // per-key count is aliased to a reserved name so a key column named
    // "count" cannot collide.
    val statKeys = schema.fields.toSeq
      .filter(f => keys.contains(f.name) && statEligible(f.dataType))
    val aggs = max(col("__graft_cnt")) +: statKeys.flatMap(f =>
      Seq(min(col(f.name)), max(col(f.name))))
    val summary = src.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__graft_cnt"))
      .agg(aggs.head, aggs.tail: _*).collect().head
    if (!summary.isNullAt(0) && summary.getLong(0) > 1) {
      val dup = src.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__graft_cnt"))
        .filter(col("__graft_cnt") > 1).limit(1).collect()
      throw new IllegalArgumentException(
        s"MERGE source has duplicate keys (e.g. ${dup.head.toSeq.init.mkString(",")}); " +
          "deduplicate per key first (e.g. dropDuplicates or a last-event-wins window)")
    }
    val keyRange = statKeys.zipWithIndex.flatMap { case (f, ix) =>
      (encodeExternal(summary.get(1 + ix * 2)).flatMap(decodeStat(_, f.dataType)),
       encodeExternal(summary.get(2 + ix * 2)).flatMap(decodeStat(_, f.dataType))) match {
        case (Some(lo), Some(hi)) => Some(Constraint(f.name, Some(lo), true, Some(hi), true))
        case _ => None
      }
    }
    val entries = manifest(root, currentVersion(root))
    val keyTypes = typeMap(schema)
    val hit = entries.filter(canMatch(_, keyRange, keyTypes))
    // Target side of the join: positions and keys only. Its USING join
    // keeps the target's key columns and takes every other column from
    // the source.
    val matched =
      if (hit.isEmpty) None
      else Some(scan(spark, root, hit, located = true)
        .select((col(FileCol) +: col(PosCol) +: keys.map(col)): _*)
        .join(src, keys)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val deleted = matched.fold(Map.empty[String, RoaringBitmap])(positions)
      val inSchema = schema.fieldNames.toIndexedSeq.map(col)
      // The USING anti-join puts the key columns first; select back into
      // schema order, since the union is by position.
      val newRows = matched match {
        case Some(m) if deleted.nonEmpty => m.select(inSchema: _*).unionAll(
          src.join(m.select(keys.map(col): _*), keys, "left_anti").select(inSchema: _*))
        case _ => src
      }
      commit(root, markDeleted(entries, deleted) ++ writeChanged(newRows, root), txn)
    } finally matched.foreach(_.unpersist(blocking = false))
  }

  /** Small-file compaction — the repo's compaction theme applied to its
    * own table format (reference analog: VACUUM/checkpointing,
    * `src/execution/operator/helper/physical_vacuum.cpp`; shape modeled
    * on public Delta OPTIMIZE / Iceberg rewrite_data_files). Data files
    * below `targetBytes`, and every file that carries a deletion vector
    * whatever its size, are rewritten into ~`targetBytes`-sized ones as a
    * NEW version, their deleted rows dropped (the reference's CHECKPOINT
    * reclaiming deleted rows); other files are carried over untouched
    * (their manifest stats lines included). Invariants: live rows are
    * identical before/after, prior versions stay readable (no file is
    * deleted — see [[vacuum]] for reclamation), and the rewritten files
    * get freshly derived min/max stats via the normal write path.
    *
    * Scale posture: the decision layer is manifest + `Files.size`
    * metadata only (no data read); the rewrite reads ONLY the chosen
    * files and coalesces them, without a shuffle, into `ceil(bytes /
    * targetBytes)` output files, never more than it reads — a
    * point-DML-heavy table with a long tail of tiny files compacts by
    * touching exactly that tail, in one job.
    *
    * Returns the new version, or the current one unchanged when no file
    * carries a deletion vector and fewer than two are below target
    * (nothing to merge). */
  def compact(spark: SparkSession, root: String, targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val v = currentVersion(root)
    val sized = manifest(root, v).map(l =>
      l -> Files.size(Paths.get(abs(root, entryPath(l)))))
    val hasDv = (l: String) => entryDv(l).isDefined
    val (chosen, kept) = sized.partition { case (l, n) => n < targetBytes || hasDv(l) }
    if (chosen.size < 2 && !chosen.exists(c => hasDv(c._1))) return v
    val nOut = math.min(chosen.size,
      math.max(1, math.ceil(chosen.map(_._2).sum.toDouble / targetBytes).toInt))
    val rewritten = scan(spark, root, chosen.map(_._1)).coalesce(nOut)
    commit(root, kept.map(_._1) ++ writeFiles(rewritten, root))
  }

  /** OPTIMIZE … ZORDER BY (the multi-dimensional clustering face of
    * table maintenance): rewrite the CURRENT snapshot ordered along the
    * Z-curve of `cols`, so the per-file min/max stats written by
    * [[writeFiles]] become selective on EVERY clustering dimension at
    * once. A linear sort makes stats tight on its leading column only —
    * exactly the layout problem at 100 TB, where a point predicate on
    * the second dimension must otherwise touch every file. Numeric,
    * date, and timestamp columns cluster; anything else refuses loudly
    * (a string Z-rank needs a sampled range-id dictionary — use a
    * leading-column sort for string keys). Each dimension is affinely
    * quantized to 16 bits off a one-row min/max pre-pass
    * (metadata-sized), bits are interleaved into one LONG rank, and the
    * rewrite is repartitionByRange + in-partition sort on that rank —
    * ~nFiles contiguous Z-tiles, each file a tight hyper-rectangle in
    * the clustered dimensions. NULLs rank 0 (cluster first, stay
    * prunable). Content is untouched: same row multiset, new layout. */
  def zorderBy(spark: SparkSession, root: String, cols: Seq[String],
      nFiles: Int): Int = {
    import org.apache.spark.sql.types._
    require(cols.size >= 2 && cols.size <= 4,
      s"ZORDER BY takes 2-4 columns (1 column is a plain sort): $cols")
    require(nFiles >= 1, s"nFiles must be >= 1: $nFiles")
    val df = read(spark, root)
    val schema = df.schema
    val basis: Seq[Column] = cols.map { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no such column: $c"))
      f.dataType match {
        case _: NumericType => col(c).cast("double")
        case DateType => unix_date(col(c)).cast("double")
        case TimestampType => unix_micros(col(c)).cast("double")
        case other => throw new IllegalArgumentException(
          s"ZORDER BY supports numeric/date/timestamp columns; '$c' is " +
            s"$other — sort linearly or derive a numeric rank first")
      }
    }
    val aggExprs = basis.zipWithIndex.flatMap { case (b, i) =>
      Seq(min(b).as(s"mn$i"), max(b).as(s"mx$i")) }
    val statsRow = df.agg(aggExprs.head, aggExprs.tail: _*).collect().head
    val quantized: Seq[Column] = basis.zipWithIndex.map { case (b, i) =>
      val (mnv, mxv) = (statsRow.get(i * 2), statsRow.get(i * 2 + 1))
      if (mnv == null || mxv == null || mnv == mxv) lit(0L)
      else {
        val mn = lit(mnv.asInstanceOf[Double])
        val span = lit(mxv.asInstanceOf[Double] - mnv.asInstanceOf[Double])
        coalesce(floor((b - mn) / span * 65535.0d).cast("long"), lit(0L))
      }
    }
    val k = cols.size
    val z = (0 until 16).flatMap { i =>
      quantized.zipWithIndex.map { case (q, j) =>
        shiftleft(shiftright(q, i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_ + _)
    val zc = "__graft_zrank"
    val out = df.withColumn(zc, z)
      .repartitionByRange(nFiles, col(zc))
      .sortWithinPartitions(col(zc))
      .drop(zc)
    commit(root, writeFiles(out, root))
  }

  /** Reclaim storage: delete data files not referenced by any of the
    * latest `keepVersions` manifests, and drop the older manifests
    * themselves. Time travel to vacuumed versions is gone afterwards —
    * the same retention contract as public Delta VACUUM. Driver-side
    * metadata work only (manifest set difference + file deletes). */
  def vacuum(root: String, keepVersions: Int = 1): Int = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    val v = currentVersion(root)
    val cutoff = math.max(1, v - keepVersions + 1)
    val referenced = (cutoff to v).flatMap(manifest(root, _).map(entryPath)).toSet
    val dataDir = Paths.get(s"$root/data")
    var removed = 0
    if (Files.isDirectory(dataDir)) {
      val stream = Files.walk(dataDir)
      try stream.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .foreach { p =>
          val rel = Paths.get(root).toAbsolutePath.normalize()
            .relativize(p.toAbsolutePath.normalize()).toString
          if (!referenced(rel)) { Files.delete(p); removed += 1 }
        }
      finally stream.close()
    }
    (1 until cutoff).foreach { old =>
      Files.deleteIfExists(Paths.get(s"$root/_manifests/v$old.manifest"))
    }
    removed
  }
}

/** Per-file deletion bitmaps, looked up by a scan's `_metadata.file_name`.
  * A scan reads one file at a time, so the last file's bitmap is kept. */
private[sources] final class Bitmaps(byFile: Map[String, RoaringBitmap]) extends Serializable {
  @transient private lazy val byName: Map[UTF8String, RoaringBitmap] =
    byFile.map { case (f, b) => UTF8String.fromString(f) -> b }
  @transient private var last: (UTF8String, RoaringBitmap) = _

  def contains(file: UTF8String, pos: Long): Boolean = {
    var l = last
    if (l == null || l._1 != file) {
      l = (file.clone(), byName.getOrElse(file, null))
      last = l
    }
    l._2 != null && l._2.contains(pos.toInt)
  }

  override def toString: String = s"deletion vectors of ${byFile.size} files"
}

/** TRUE for a row whose `(file, pos)` is in `bitmaps`. One expression for
  * any number of files: the bitmaps are a reference object, so the plan
  * does not grow with them, and the generated code compares the scan's
  * file name bytes without building a Java string per row. */
private[sources] final case class InBitmaps(file: Expression, pos: Expression, bitmaps: Bitmaps)
    extends BinaryExpression with Predicate {
  override def left: Expression = file
  override def right: Expression = pos

  override protected def nullSafeEval(f: Any, p: Any): Any =
    bitmaps.contains(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("bitmaps", bitmaps)
    defineCodeGen(ctx, ev, (f, p) => s"$b.contains($f, $p)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): InBitmaps =
    copy(file = l, pos = r)
}
