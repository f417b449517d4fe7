package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Mutable-table DML over parquet — INSERT / DELETE / UPDATE / MERGE
  * (reference `src/execution/operator/persistent/physical_insert.cpp`,
  * `physical_delete.cpp`, `physical_update.cpp`), re-expressed for Spark as
  * a minimal MANIFEST-BASED COPY-ON-WRITE table: the lakehouse pattern
  * (immutable data files + a versioned file manifest + an atomic current
  * pointer) rather than the reference's MVCC row versioning, which has no
  * Spark analog (Spark executors cannot share a transaction-local
  * undo/redo state; files are the unit of atomicity a distributed FS
  * actually gives you).
  *
  * Layout under a table root:
  * {{{
  *   data/<uuid>/part-*.parquet     immutable data files (never modified)
  *   _manifests/v<N>.manifest      one data-file entry per line: the
  *                                 relative path, then optional
  *                                 TAB-separated `col=min,max` stats
  *                                 fields (URL-encoded); legacy
  *                                 path-only lines remain readable
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
  *    `src/storage/statistics/numeric_stats.cpp`). Collecting them is
  *    one distributed scan of ONLY the freshly written files, amortized
  *    into the write.
  *  - DELETE/UPDATE/MERGE rewrite ONLY the files that contain affected
  *    rows, found in two pruning layers: (1) MANIFEST pruning — the
  *    predicate's `col (=,<,<=,>,>=,IN) literal` conjuncts (and MERGE's
  *    source-key min/max range) are intersected with each file's stats
  *    envelope on the driver, dropping files that cannot match WITHOUT
  *    opening them — at 10⁶ files a point DELETE plans against the
  *    manifest, not the filesystem; then (2) one predicate scan of the
  *    surviving candidates (parquet pushdown / row-group pruning skips
  *    within them) collects the distinct `input_file_name`s; only those
  *    are read back and rewritten.
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

  private def statEligible(dt: DataType): Boolean = dt match {
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
  private def encodeExternal(v: Any): Option[String] = v match {
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
      if (eq < 0) None
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
  private[sources] def candidateEntries(root: String, pred: Column): Seq[String] = {
    val cs = extractConstraints(org.apache.spark.sql.graft.Bridge.catalystExpression(pred))
    val types = typeMap(schemaOf(root))
    manifest(root, currentVersion(root)).filter(canMatch(_, cs, types))
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
    val stream = Files.list(Paths.get(abs(root, rel)))
    val paths = try stream.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .map(n => s"$rel/$n").toSeq.sorted
    finally stream.close()
    if (paths.isEmpty) paths else statsLines(df.sparkSession, root, paths, df.schema)
  }

  /** Per-file min/max stats for the eligible columns, folded into the
    * manifest entry lines — one distributed scan of ONLY the freshly
    * written files (the collect is #files × #cols scalars, a metadata
    * envelope, never rows). A column that is all-null in a file (or
    * non-comparable: NaN/±Inf) simply omits its field — readers treat
    * absence as "must keep". */
  private def statsLines(spark: SparkSession, root: String,
      relFiles: Seq[String], schema: StructType): Seq[String] = {
    val cols = schema.fields.toSeq.filter(f => statEligible(f.dataType))
    if (cols.isEmpty) return relFiles
    val aggs = cols.flatMap(f =>
      Seq(min(col(f.name)).as(s"__mn_${f.name}"),
          max(col(f.name)).as(s"__mx_${f.name}")))
    val rows = spark.read.schema(schema).parquet(relFiles.map(abs(root, _)): _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val byPath = rows.map { r =>
      val p = relativize(root, r.getString(0))
      val fields = cols.zipWithIndex.flatMap { case (f, ix) =>
        (encodeExternal(r.get(1 + ix * 2)), encodeExternal(r.get(2 + ix * 2))) match {
          case (Some(a), Some(b)) if f.dataType == StringType =>
            truncMax(b).map(bb => s"${enc(f.name)}=${enc(truncMin(a))},${enc(bb)}")
          case (Some(a), Some(b)) => Some(s"${enc(f.name)}=${enc(a)},${enc(b)}")
          case _ => None
        }
      }
      p -> (if (fields.isEmpty) p else (p +: fields).mkString("\t"))
    }.toMap
    relFiles.map(p => byPath.getOrElse(p, p))
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
      version: Option[Int] = None): DataFrame = {
    val files = manifest(root, version.getOrElse(currentVersion(root))).map(entryPath)
    val schema = schemaOf(root)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files.map(abs(root, _)): _*)
  }

  /** RESTORE the table to an earlier snapshot (the Delta RESTORE
    * analog, and the rollback primitive of [[graft.sql.DuckDml]]'s
    * transactions): commits a NEW version whose manifest is the target
    * version's manifest verbatim — metadata only, no data movement
    * (files are immutable), stats preserved, and the discarded
    * versions stay time-travel-readable until [[vacuum]]. */
  def restore(root: String, version: Int): Int = {
    require(version <= currentVersion(root),
      s"cannot restore $root to future version $version")
    commit(root, manifest(root, version))
  }

  /** CDC between two versions — the `table_changes` face of the
    * copy-on-write design. Because data files are immutable, the delta
    * lives entirely in the manifest difference: files present in both
    * versions are NEVER read. Net row-level changes come from EXCEPT ALL
    * over the differing files only (multiset semantics: rows rewritten
    * byte-identically cancel; an UPDATE surfaces as delete(old) +
    * insert(new)). Output = table columns + `change_type`
    * ('insert' | 'delete'). On a 100 TB table a point update's CDC reads
    * the handful of rewritten files, nothing else. */
  def changes(spark: SparkSession, root: String, fromV: Int, toV: Int): DataFrame = {
    val before = manifest(root, fromV)
    val after = manifest(root, toV)
    val added = after.filterNot(before.toSet)
    val removed = before.filterNot(after.toSet)
    val schema = schemaOf(root)
    def readOrEmpty(files: Seq[String]): DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readFiles(spark, root, files)
    val ins = readOrEmpty(added).exceptAll(readOrEmpty(removed))
      .withColumn("change_type", lit("insert"))
    val del = readOrEmpty(removed).exceptAll(readOrEmpty(added))
      .withColumn("change_type", lit("delete"))
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

  /** Root-relative paths of current files containing ≥1 row matching
    * `pred`. Two layers: manifest stats pruning drops files whose
    * min/max envelope cannot satisfy the predicate's literal conjuncts
    * (driver-side, no file opened); then ONE scan of the survivors with
    * the predicate pushed to parquet (row-group pruning skips within);
    * the collect is file NAMES, never rows. */
  private def affectedFiles(spark: SparkSession, root: String,
      pred: Column): Seq[String] = {
    val candidates = candidateEntries(root, pred).map(entryPath)
    if (candidates.isEmpty) return Nil
    readFiles(spark, root, candidates)
      .withColumn("__file", input_file_name())
      .filter(pred)
      .select(col("__file")).distinct().collect()
      .map(r => relativize(root, r.getString(0)))
      .toSeq.sorted
  }

  /** Read specific files/entry lines of the table (stats fields, if any,
    * are stripped). */
  private def readFiles(spark: SparkSession, root: String,
      files: Seq[String]): DataFrame =
    spark.read.schema(schemaOf(root)).parquet(files.map(f => abs(root, entryPath(f))): _*)

  /** DELETE WHERE pred: rows where the predicate is TRUE are removed
    * (NULL predicate keeps the row — SQL DELETE semantics). Only files
    * containing matches are rewritten. */
  def delete(spark: SparkSession, root: String, pred: Column): Unit = {
    val hit = affectedFiles(spark, root, pred)
    // no matches: still commit the (identical) manifest — every DML call
    // is one version, so time travel and changes() stay well-defined
    if (hit.isEmpty) { commit(root, manifest(root, currentVersion(root))); return }
    val hitSet = hit.toSet
    val keep = manifest(root, currentVersion(root))
      .filterNot(l => hitSet(entryPath(l)))
    val kept = readFiles(spark, root, hit)
      .filter(!coalesce(pred, lit(false)))
    commit(root, keep ++ writeFiles(kept, root))
  }

  /** UPDATE SET col = expr WHERE pred. `set` expressions see the pre-update
    * row (SQL UPDATE semantics — all assignments evaluated against the old
    * values). Only files containing matches are rewritten. */
  def update(spark: SparkSession, root: String, pred: Column,
      set: Map[String, Column]): Unit = {
    val schema = schemaOf(root)
    require(set.keySet.subsetOf(schema.fieldNames.toSet),
      s"unknown columns in SET: ${set.keySet -- schema.fieldNames}")
    val hit = affectedFiles(spark, root, pred)
    if (hit.isEmpty) { commit(root, manifest(root, currentVersion(root))); return }
    val hitSet = hit.toSet
    val keep = manifest(root, currentVersion(root))
      .filterNot(l => hitSet(entryPath(l)))
    val p = coalesce(pred, lit(false))
    val rewritten = readFiles(spark, root, hit).select(
      schema.fields.toIndexedSeq.map { f =>
        set.get(f.name) match {
          case Some(e) => when(p, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    commit(root, keep ++ writeFiles(rewritten, root))
  }

  /** MERGE (upsert): rows of `source` replace target rows with the same
    * key (WHEN MATCHED THEN UPDATE SET *) and are appended otherwise
    * (WHEN NOT MATCHED THEN INSERT *). Source keys must be unique — the
    * standard MERGE cardinality contract; duplicate source keys would
    * multiply target rows. Only files containing matched keys are
    * rewritten; a pure-insert merge rewrites nothing. */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], txn: Option[(String, Long)] = None): Unit = {
    val schema = schemaOf(root)
    // The source is evaluated several times below (dup check, hit-file
    // semi-join, matched rewrite, insert anti-join) — cache it for the
    // duration of the merge so an expensive source query (or a streaming
    // micro-batch) runs once.
    val src = aligned(source, schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeImpl(spark, root, schema, src, keys, txn)
    finally src.unpersist(blocking = false)
  }

  private def mergeImpl(spark: SparkSession, root: String,
      schema: StructType, src: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)]): Unit = {
    // MERGE cardinality contract, enforced loudly: a duplicate source key
    // would silently multiply matched target rows through the left join
    // below. Aggregate aliased to a reserved name so a key column named
    // "count" cannot collide.
    val dup = src.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__graft_cnt"))
      .filter(col("__graft_cnt") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"MERGE source has duplicate keys (e.g. ${dup.head.toSeq.init.mkString(",")}); " +
          "deduplicate per key first (e.g. dropDuplicates or a last-event-wins window)")
    // Key-membership is a join, not a Column predicate, so the hit set is
    // computed directly (same shape as affectedFiles: distinct file names
    // from one semi-join scan, an O(#files) envelope). Before the scan,
    // the SOURCE's key min/max (one tiny agg over the cached source)
    // prunes target files via the manifest stats — a time-ordered upsert
    // against a time-partitioned table touches only the recent files'
    // envelopes, never the archive.
    val entries = manifest(root, currentVersion(root))
    val statKeys = schema.fields.toSeq
      .filter(f => keys.contains(f.name) && statEligible(f.dataType))
    val keyRange: Seq[Constraint] =
      if (statKeys.isEmpty || entries.isEmpty) Nil
      else {
        val aggs = statKeys.flatMap(f =>
          Seq(min(col(f.name)).as(s"__mn_${f.name}"),
              max(col(f.name)).as(s"__mx_${f.name}")))
        val r = src.agg(aggs.head, aggs.tail: _*).collect().head
        statKeys.zipWithIndex.flatMap { case (f, ix) =>
          (encodeExternal(r.get(ix * 2)).flatMap(decodeStat(_, f.dataType)),
           encodeExternal(r.get(ix * 2 + 1)).flatMap(decodeStat(_, f.dataType))) match {
            case (Some(lo), Some(hi)) =>
              Some(Constraint(f.name, Some(lo), true, Some(hi), true))
            case _ => None
          }
        }
      }
    val keyTypes = typeMap(schema)
    val candidates = entries.filter(canMatch(_, keyRange, keyTypes)).map(entryPath)
    val hitFiles: Seq[String] =
      if (candidates.isEmpty) Nil
      else readFiles(spark, root, candidates)
        .withColumn("__file", input_file_name())
        .join(src.select(keys.map(col): _*), keys, "left_semi")
        .select(col("__file")).distinct().collect()
        .map(r => relativize(root, r.getString(0))).toSeq.sorted
    val hitSet = hitFiles.toSet
    val keep = entries.filterNot(l => hitSet(entryPath(l)))
    val srcTagged = src
      .toDF(schema.fieldNames.toIndexedSeq.map(c =>
        if (keys.contains(c)) c else s"__src_$c"): _*)
      .withColumn("__matched", lit(true))
    val updated =
      if (hitFiles.isEmpty) None
      else Some(readFiles(spark, root, hitFiles)
        .join(srcTagged, keys, "left")
        .select(schema.fields.toIndexedSeq.map { f =>
          if (keys.contains(f.name)) col(f.name)
          else when(col("__matched"), col(s"__src_${f.name}"))
            .otherwise(col(f.name)).as(f.name)
        }: _*))
    // Keys absent from the hit files are absent from the table entirely
    // (that is what made the other files unaffected), so the anti-join for
    // inserts only needs the hit files' rows.
    val existingKeys =
      if (hitFiles.isEmpty) None else Some(readFiles(spark, root, hitFiles))
    // The USING anti-join puts the key columns first; select back into
    // schema order, since the union below is by position.
    val inserts = existingKeys match {
      case Some(t) => src.join(t.select(keys.map(col): _*), keys, "left_anti")
        .select(schema.fieldNames.toIndexedSeq.map(col): _*)
      case None => src
    }
    val newRows = updated.map(_.unionAll(inserts)).getOrElse(inserts)
    commit(root, keep ++ writeFiles(newRows, root), txn)
  }

  /** Small-file compaction — the repo's compaction theme applied to its
    * own table format (reference analog: VACUUM/checkpointing,
    * `src/execution/operator/helper/physical_vacuum.cpp`; shape modeled
    * on public Delta OPTIMIZE / Iceberg rewrite_data_files). Data files
    * below `targetBytes` are rewritten into ~`targetBytes`-sized ones as
    * a NEW version; files already at target size are carried over
    * untouched (their manifest stats lines included). Invariants: rows
    * are identical before/after, prior versions stay readable (no file
    * is deleted — see [[vacuum]] for reclamation), and the rewritten
    * files get freshly derived min/max stats via the normal write path.
    *
    * Scale posture: the decision layer is manifest + `Files.size`
    * metadata only (no data read); the rewrite reads ONLY the
    * sub-threshold files and shuffles them into `ceil(smallBytes /
    * targetBytes)` output partitions — a point-DML-heavy table with a
    * long tail of tiny files compacts by touching exactly that tail.
    *
    * Returns the new version, or the current one unchanged when fewer
    * than two files are below target (nothing to merge). */
  def compact(spark: SparkSession, root: String, targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val v = currentVersion(root)
    val entries = manifest(root, v)
    val (small, large) = entries.partition(l =>
      Files.size(Paths.get(abs(root, entryPath(l)))) < targetBytes)
    if (small.size < 2) return v
    val smallBytes = small.map(l =>
      Files.size(Paths.get(abs(root, entryPath(l))))).sum
    val nOut = math.max(1, math.ceil(smallBytes.toDouble / targetBytes).toInt)
    val rewritten = readFiles(spark, root, small).repartition(nOut)
    commit(root, large ++ writeFiles(rewritten, root))
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
