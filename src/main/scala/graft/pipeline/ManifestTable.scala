package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8

/** Reader-atomic table publishing via manifest indirection — the
  * piece two-rename swaps (Maintenance.compact) fundamentally can't
  * provide. Layout:
  *
  * {{{
  *   <root>/v00000001-<token>/...parquet   immutable, writer-unique
  *   <root>/v00000002-<token>/...parquet   segment directories
  *   <root>/_v00000001.manifest            commit marker; contents =
  *   <root>/_v00000002.manifest            the segment dir names, one
  *                                         per line
  * }}}
  *
  * The live version is the highest committed manifest; its contents
  * list the segment directories that make up the table (one for a
  * full rewrite, many for an append chain — appends reuse the
  * previous version's segments and add one, so publishing a batch is
  * O(batch), not O(table)). Publishing = atomically creating the
  * manifest file (create-no-overwrite, which every Hadoop FileSystem
  * provides atomically), so a reader resolves either the old version
  * or the new one — never a missing or half-written directory
  * (segments land BEFORE the manifest appears). Each writer stages
  * into its OWN token-suffixed directory, so racing writers never
  * touch each other's files: both race to create the same manifest
  * name, exactly one wins, and the loser deletes only its own
  * staging dir and retries at a fresh version — optimistic
  * concurrency, the contract the lakehouse table formats build on
  * (simplified: the manifest carries just directory pointers, no
  * schema/stats).
  *
  * Old versions stay readable by in-flight scans until [[vacuum]],
  * the explicit bounded deletion step (segment-sharing-aware: a
  * segment referenced by any retained version survives; it also
  * sweeps abandoned uncommitted staging dirs).
  */
class ManifestTable(spark: SparkSession, root: String) {

  private val rootPath = new Path(root)
  private def fs =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifest(v: Long) = new Path(rootPath, f"_v$v%08d.manifest")

  private val ManifestName = """_v(\d{8})\.manifest""".r
  private val DataDirName = """v(\d{8})-.*""".r

  /** Highest claimed version, if any (a burned/incomplete manifest
    * still reserves its number for version allocation; [[read]]
    * resolves past it).
    */
  def currentVersion: Option[Long] = {
    val vs = committedVersions
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** The segment directories version `v`'s manifest lists, if the
    * manifest is readable and every listed segment exists. An empty
    * or unreadable manifest (a commit caught mid-content-write, or
    * one whose writer died between create and write) resolves to
    * None — the version is treated as never committed.
    */
  /** One committed segment: its directory plus optional per-column
    * numeric (min, max) stats for data skipping. Manifest line
    * format: `dirname` or `dirname|col|min|max[|col2|min2|max2…]`.
    */
  case class Segment(dir: Path, stats: Map[String, (Double, Double)])

  private def manifestLines(v: Long): Option[Seq[String]] =
    try {
      val in = fs.open(manifest(v))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
      Some(lines)
    } catch { case _: java.io.IOException => None }

  /** A segment ref is the bare dir NAME for segments owned by this
    * root, or a full path for segments shared zero-copy from another
    * table (the [[branchTo]] case) — "contains a slash" is the
    * discriminator, since owned staging names never do.
    */
  private def parseSegment(line: String): Segment = {
    val parts = line.split('|')
    val stats = parts.drop(1).grouped(3).collect {
      case Array(c, lo, hi) => c -> (lo.toDouble, hi.toDouble)
    }.toMap
    val dir = if (parts.head.contains("/")) new Path(parts.head)
      else new Path(rootPath, parts.head)
    Segment(dir, stats)
  }

  private def renderSegment(s: Segment): String = {
    val ref = if (s.dir.getParent == rootPath) s.dir.getName
      else s.dir.toString
    (ref +: s.stats.toSeq.sortBy(_._1).flatMap {
      case (c, (lo, hi)) => Seq(c, lo.toString, hi.toString)
    }).mkString("|")
  }

  private def segments(v: Long): Option[Seq[Segment]] =
    manifestLines(v).flatMap { lines =>
      val segs = lines.filterNot(_.startsWith("#")).map(parseSegment)
      if (segs.isEmpty) None
      else Some(segs).filter(_.forall(s => fs.exists(s.dir)))
    }

  /** v's manifest segments WITHOUT the exists-filter — for callers
    * that must distinguish "dirs vacuumed away" from "never
    * committed" ([[rollbackTo]]'s descriptive refusal) or must not
    * let one missing dir silently un-reference a retained version's
    * OTHER segments ([[vacuum]]'s refcount).
    */
  private def segmentsRaw(v: Long): Option[Seq[Segment]] =
    manifestLines(v).map(_.filterNot(_.startsWith("#")).map(parseSegment))

  // ── Merge-on-read equality deletes (Iceberg-v2-delete-file /
  //    Delta-deletion-vector role) ────────────────────────────────
  //
  // A MoR delete stages only the DELETED KEYS (a parquet of distinct
  // key values) and commits a `#dv=<dir>|<keyCol>|<version>` line —
  // zero data rewrite, O(matched keys) IO, which at 100 TB is the
  // difference between a GDPR delete finishing in seconds and
  // rewriting every overlapping segment. Readers subtract delete
  // keys with an anti-join. SEQUENCE SCOPING rides the existing
  // version-stamped segment dir names: a dv applies only to segments
  // staged at versions ≤ its own commit version, so a key deleted at
  // v5 and re-appended at v7 is visible again — the Iceberg sequence
  // -number contract without extra metadata. Overwrites ([[write]],
  // [[writeClustered]], [[compact]]) consume dvs (they rewrite from
  // a dv-applied read and drop the lines); [[append]] and the CoW
  // [[deleteWhere]] carry them forward.

  /** One committed equality-delete file: key parquet dir, the key
    * column it deletes on, and the version it committed at (its
    * sequence horizon).
    */
  private case class Dv(dir: Path, keyCol: String, v: Long)

  private def dvLinesOf(v: Long): Seq[String] =
    manifestLines(v).getOrElse(Nil).filter(_.startsWith("#dv="))

  private def parseDv(line: String): Dv = {
    val Array(ref, kc, dv) = line.stripPrefix("#dv=").split('|')
    val dir = if (ref.contains("/")) new Path(ref)
      else new Path(rootPath, ref)
    Dv(dir, kc, dv.toLong)
  }

  private def renderDv(d: Dv): String = {
    val ref = if (d.dir.getParent == rootPath) d.dir.getName
      else d.dir.toString
    s"#dv=$ref|${d.keyCol}|${d.v}"
  }

  private def dvsOf(v: Long): Seq[Dv] = dvLinesOf(v).map(parseDv)

  /** The version a segment's data was staged at (its dir-name stamp)
    * — the sequence number dv scoping compares against. Foreign-
    * rooted (branched-in) segments carry the same naming scheme.
    */
  private def segStagedVersion(s: Segment): Long = s.dir.getName match {
    case DataDirName(d) => d.toLong
    case _ => Long.MaxValue
  }

  /** Whether delete file `d` covers segment `s` — the sequence
    * comparison. Same-root pairs compare version stamps directly.
    * Cross-root pairs arise only through [[branchTo]], whose fork is
    * a strict time boundary: a FOREIGN dv predates the fork, so it
    * never covers an OWN (post-fork) segment; an OWN dv postdates
    * it, so it always covers a FOREIGN (pre-fork) segment. (A
    * branch-of-a-branch mixing two foreign roots falls back to the
    * stamp comparison — covered by the one-level-deep branch
    * contract [[branchTo]] documents.)
    */
  private def dvApplies(d: Dv, s: Segment): Boolean = {
    val segOwn = s.dir.getParent == rootPath
    val dvOwn = d.dir.getParent == rootPath
    // STRICTLY older (the Iceberg sequence rule): a segment staged in
    // the dv's OWN commit is not covered — which is exactly what lets
    // [[upsertMor]] land the delete and the replacement in one commit
    if (segOwn == dvOwn) d.v > segStagedVersion(s)
    else dvOwn // own dv covers foreign seg; foreign dv never covers own seg
  }

  /** Dv-aware segment read: group segments by which dvs apply to
    * them (a dv covers segments staged at or before its commit), and
    * anti-join each group with its delete keys. Group count is
    * bounded by the dv count, not the segment count; the key frames
    * are delete-sized (the optimizer broadcasts them). Era groups may
    * straddle a schema evolution, so the union is by name with
    * null-fill.
    */
  private def readSegmentsDvAware(segs: Seq[Segment],
      dvs: Seq[Dv]): DataFrame = {
    if (dvs.isEmpty) return readSegments(segs)
    import org.apache.spark.sql.functions.{col => cc}
    segs.groupBy(s => dvs.filter(dvApplies(_, s)))
      .map { case (applicable, group) =>
        applicable.groupBy(_.keyCol).foldLeft(readSegments(group)) {
          case (df, (kc, ds)) =>
            val keys = spark.read
              .parquet(ds.map(_.dir.toString): _*)
              .select(cc(kc)).distinct()
            df.join(keys, df(kc) === keys(kc), "left_anti")
        }
      }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Merge-on-read delete: remove every row where ALL predicates
    * hold, by committing the matching `keyCol` values as a delete
    * file — NO data rewrite (the [[deleteWhere]] trade inverted:
    * that one pays O(overlapping segments) rewrite for clean reads,
    * this one pays an anti-join at read until [[compact]] folds the
    * dvs in). Segments whose stats rule the box out aren't even
    * scanned for keys. `keyCol` must identify rows: every row
    * carrying a matched key is deleted, in-box or not (equality-
    * delete semantics — use a key, not a payload column). Returns
    * the committed version (the live one when nothing matches).
    */
  def deleteWhereMor(preds: Seq[(String, Double, Double)],
      keyCol: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(preds.nonEmpty, "deleteWhereMor needs at least one predicate")
    val (liveV, segs) = liveSegments.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root"))
    val hit = segs.filter(s => preds.forall { case (n, lo, hi) =>
      s.stats.get(n).forall { case (mn, mx) => mx >= lo && mn <= hi }
    })
    if (hit.isEmpty) return liveV
    val inBox = preds.map { case (n, lo, hi) => col(n).between(lo, hi) }
      .reduce(_ && _)
    // keys come from a dv-AWARE read of the hit segments: already-
    // deleted keys don't re-enter, keeping delete files minimal
    val keys = readSegmentsDvAware(hit, dvsOf(liveV))
      .filter(coalesce(inBox, lit(false)))
      .select(col(keyCol)).filter(col(keyCol).isNotNull).distinct()
    val v = currentVersion.getOrElse(0L) + 1
    val dir = new Path(rootPath,
      f"v$v%08d-dv-${java.util.UUID.randomUUID.toString.take(8)}")
    keys.write.mode("errorifexists").parquet(dir.toString)
    val staged = spark.read.parquet(dir.toString)
    if (staged.isEmpty) { fs.delete(dir, true); return liveV }
    commit(v, segs, ownStaged = Seq(dir),
      extraLines = carryLines(liveV) :+ renderDv(Dv(dir, keyCol, v)))
    v
  }

  /** Merge-on-read UPSERT: one atomic commit that (a) equality-
    * deletes every incoming key via a delete file and (b) appends
    * the incoming rows as a fresh segment — rows whose key exists
    * are replaced, new keys insert, untouched segments are never
    * rewritten. The strict dv horizon ([[dvApplies]]) is what makes
    * the single commit sound: the delete file covers every OLDER
    * segment but not the replacement segment staged in the same
    * version. This is the O(batch) MERGE a CDC/daily-load pipeline
    * runs at 100 TB, next to the CoW merge
    * ([[graft.pipeline.Merge]]) that rewrites matched partitions.
    * Readers before the commit see the old rows; after, the new —
    * never a mix. Returns the committed version.
    */
  def upsertMor(df: DataFrame, keyCol: String,
      statCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col}
    val (liveV, segs) = liveSegments.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root"))
    val v = currentVersion.getOrElse(0L) + 1
    enforceChecks(df, checks)
    val keys = df.select(col(keyCol)).filter(col(keyCol).isNotNull)
      .distinct()
    val dvDir = new Path(rootPath,
      f"v$v%08d-dv-${java.util.UUID.randomUUID.toString.take(8)}")
    keys.write.mode("errorifexists").parquet(dvDir.toString)
    val seg = stage(df, v, statCols)
    commit(v, segs :+ seg, ownStaged = Seq(dvDir, seg.dir),
      extraLines = carryLines(liveV) :+ renderDv(Dv(dvDir, keyCol, v)))
    v
  }

  // ── Table-level CHECK constraints (the Delta-Lake constraint
  //    feature): `#check=<sql expr>` manifest lines, enforced at
  //    every data-introducing commit ─────────────────────────────

  /** The live version's CHECK expressions. */
  def checks: Seq[String] =
    liveSegments.map { case (v, _) => checkLinesOf(v)
      .map(_.stripPrefix("#check=")) }.getOrElse(Nil)

  private def checkLinesOf(v: Long): Seq[String] =
    manifestLines(v).getOrElse(Nil).filter(_.startsWith("#check="))

  /** Register a CHECK constraint as a new version (same data). The
    * EXISTING table must already satisfy it — registering a
    * constraint the data violates would make every later read a lie.
    * SQL semantics: a row violates when the expression is FALSE;
    * NULL passes (the standard's treatment).
    */
  def addCheck(expr: String): Long = {
    val (liveV, segs) = liveSegments.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root"))
    enforceChecks(readSegmentsDvAware(segs, dvsOf(liveV)), Seq(expr))
    val v = currentVersion.getOrElse(0L) + 1
    commit(v, segs, ownStaged = Nil,
      extraLines = carryLines(liveV) :+ s"#check=$expr")
    v
  }

  /** Throw if any row of `df` violates any of `exprs` (FALSE only —
    * NULL passes). One aggregate pass over the batch, all
    * constraints at once.
    */
  private def enforceChecks(df: DataFrame, exprs: Seq[String]): Unit = {
    if (exprs.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr => e, lit, sum, when}
    val counts = df.agg(
      sum(when(!coalesce(e(exprs.head), lit(true)), 1L).otherwise(0L))
        .as("c0"),
      exprs.tail.zipWithIndex.map { case (x, i) =>
        sum(when(!coalesce(e(x), lit(true)), 1L).otherwise(0L))
          .as(s"c${i + 1}")
      }: _*).head
    exprs.zipWithIndex.foreach { case (x, i) =>
      val n = Option(counts.get(i)).map(_.asInstanceOf[Long]).getOrElse(0L)
      if (n > 0) throw new IllegalArgumentException(
        s"CHECK constraint violated on $root: $n row(s) fail '$x' — " +
          "batch rejected, nothing committed")
    }
  }

  /** Metadata lines every content-preserving commit carries forward:
    * delete files and CHECK constraints.
    */
  private def carryLines(v: Long): Seq[String] =
    dvLinesOf(v) ++ checkLinesOf(v)

  /** One row of [[history]]: a committed version's metadata census. */
  case class VersionInfo(version: Long, segments: Int, deleteFiles: Int,
    checks: Int, batchId: Option[Long])

  /** DESCRIBE HISTORY: every still-readable version's metadata
    * census, ascending — segments, delete files, constraints, batch
    * marker. Metadata-only (manifest reads, no data IO); the
    * operational surface audit/debug tooling keys on.
    */
  def history: Seq[VersionInfo] =
    committedVersions.sorted.flatMap { v =>
      segments(v).map { segs =>
        VersionInfo(v, segs.size, dvLinesOf(v).size, checkLinesOf(v).size,
          batchIdOf(v))
      }
    }

  /** Live `#dv=` delete-file count — observability for specs and
    * maintenance policy ("compact when dvs pile past k").
    */
  def deleteFileCount: Int =
    liveSegments.map { case (v, _) => dvLinesOf(v).size }.getOrElse(0)

  /** The `#batch=<id>` marker of version `v`, if present — set by
    * [[append]] when a caller passes a batch id.
    */
  private def batchIdOf(v: Long): Option[Long] =
    manifestLines(v).flatMap(_.collectFirst {
      case l if l.startsWith("#batch=") => l.stripPrefix("#batch=").toLong
    })

  /** Newest version whose manifest fully resolves, with its segments
    * — skips a manifest that is mid-commit instead of failing, so
    * readers are never disturbed by an in-flight commit.
    */
  private def liveSegments: Option[(Long, Seq[Segment])] =
    committedVersions.sorted.reverse.iterator
      .flatMap(v => segments(v).map(v -> _)).buffered.headOption

  /** Segment union with SCHEMA EVOLUTION: segments written before a
    * column existed null-fill it on read (parquet footer merge — the
    * manifest stays schema-free). Every read path goes through here,
    * so time travel sees each version under the schema union of ITS
    * OWN segments: v1 read back after an evolved v2 append still has
    * v1's columns, nothing more.
    */
  private def readSegments(segs: Seq[Segment]): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(segs.map(_.dir.toString): _*)

  def read(): DataFrame = {
    val (v, segs) = liveSegments.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root"))
    readSegmentsDvAware(segs, dvsOf(v))
  }

  /** Time-travel read: the table exactly as committed at version `v`.
    * Any version still retained is readable — [[vacuum]]'s `keep` is
    * the retention horizon; a vacuumed, burned, or never-committed
    * version throws. Reading an old version is safe concurrently with
    * appends/compactions (they only ADD versions) — only vacuum
    * retires one.
    */
  def readVersion(v: Long): DataFrame = {
    val segs = segments(v).getOrElse(
      throw new java.io.FileNotFoundException(
        s"version $v of $root is not readable (never committed, burned, or vacuumed)"))
    readSegmentsDvAware(segs, dvsOf(v))
  }

  /** Readable (fully committed, still retained) versions, ascending —
    * the valid inputs to [[readVersion]].
    */
  def versions: Seq[Long] =
    committedVersions.filter(v => segments(v).isDefined).sorted

  /** Data-skipping read: scan only segments whose committed
    * [min, max] for `col` overlaps [lo, hi] (a segment with no stats
    * for `col` is always scanned — skipping is an optimization,
    * never a filter), then apply the row-level predicate. On an
    * append-only stream with any natural ordering (time, id), this
    * turns a point/range query into a scan of the few segments that
    * can contain it — the manifest works as a coarse zone map.
    */
  def readWhere(col: String, lo: Double, hi: Double): DataFrame =
    readWhereAll(Seq((col, lo, hi)))

  /** Multi-column data-skipping read: scan only segments whose
    * committed [min, max] overlaps EVERY predicate's [lo, hi] (a
    * segment missing stats for a column always survives that
    * predicate — skipping never filters), then apply the row-level
    * conjunction. On a [[writeClustered]] table this is the payoff
    * read: z-ordered segments are tight on every clustered dimension
    * at once, so a box predicate prunes multiplicatively instead of
    * on the leading column only.
    */
  def readWhereAll(preds: Seq[(String, Double, Double)]): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val rowFilter = preds.map { case (n, lo, hi) => c(n).between(lo, hi) }
      .reduce(_ && _)
    val hit = overlappingSegments(preds)
    if (hit.isEmpty) read().filter(rowFilter).limit(0)
    else readSegmentsDvAware(hit,
      liveSegments.map { case (v, _) => dvsOf(v) }.getOrElse(Nil))
      .filter(rowFilter)
  }

  /** The live segments a box predicate cannot rule out — exposed so
    * callers (and specs) can measure skipping effectiveness:
    * `overlappingSegments(preds).size` vs [[segmentCount]].
    */
  def overlappingSegments(preds: Seq[(String, Double, Double)]): Seq[Segment] = {
    val (_, segs) = liveSegments.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root"))
    segs.filter(s => preds.forall { case (n, lo, hi) =>
      s.stats.get(n).forall { case (mn, mx) => mx >= lo && mn <= hi }
    })
  }

  def segmentCount: Int = liveSegments.map(_._2.size).getOrElse(0)

  private def committedVersions: Seq[Long] = {
    if (!fs.exists(rootPath)) return Nil
    fs.listStatus(rootPath).iterator.flatMap { st =>
      st.getPath.getName match {
        case ManifestName(d) => Some(d.toLong)
        case _ => None
      }
    }.toSeq
  }

  /** Write `df` as the next version's SOLE segment (a full rewrite)
    * and commit it. Returns the committed version. Throws on a commit
    * race loss (another writer claimed the same version) — this
    * writer's staging directory is cleaned up and the caller may
    * retry.
    */
  def write(df: DataFrame, statCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, batchId: Option[Long] = None,
      validate: Boolean = true): Long = {
    // CHECK constraints are DDL-level: they survive an overwrite and
    // the incoming frame must satisfy them (compact passes
    // validate=false — its input is the table itself, already green)
    val liveChecks = currentVersion.map(checkLinesOf).getOrElse(Nil)
    if (validate)
      enforceChecks(df, liveChecks.map(_.stripPrefix("#check=")))
    val v = currentVersion.getOrElse(0L) + 1
    val seg = stage(df, v, statCols, bloomCols)
    commit(v, Seq(seg), ownStaged = Seq(seg.dir),
      extraLines = batchId.map(id => s"#batch=$id").toSeq ++ liveChecks)
    v
  }

  /** The live version's `#batch=` marker, if any — lets incremental
    * consumers (e.g. [[MaterializedAgg]]) persist "which base
    * version this state reflects" inside the state table's own
    * atomic commit.
    */
  def liveBatchId: Option[Long] =
    liveSegments.flatMap { case (v, _) => batchIdOf(v) }

  /** Publish `df` as ONE new segment appended to the live version's
    * segment list — O(batch) data written regardless of table size.
    * Returns the committed version.
    *
    * SCHEMA EVOLUTION is additive-only: the batch may carry columns
    * the table has never seen (older segments null-fill them on
    * read), but dropping or retyping a live column is rejected HERE,
    * at publish time — an incompatible batch must fail its writer,
    * not surface later as a reader's merge error. This is the
    * add-column contract of the lakehouse formats; full
    * drop/rename/type-widening DDL is out of scope for a
    * pointer-manifest table.
    *
    * `batchId` makes replays idempotent: if the LIVE version already
    * carries this batch id (a foreachBatch retry after a crash
    * between commit and checkpoint), the append is skipped and the
    * existing version returned — upgrading the streaming sink from
    * at-least-once to effectively-once for the crash-replay case.
    */
  def append(df: DataFrame, batchId: Option[Long] = None,
      statCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    val live = liveSegments
    live.foreach { case (_, segs) =>
      val have = readSegments(segs).schema
      val incoming = df.schema
      have.fields.foreach { f =>
        incoming.fields.find(_.name == f.name) match {
          case None => throw new IllegalArgumentException(
            s"append drops live column '${f.name}' — schema evolution " +
              "is additive-only (new columns may be added, existing " +
              "ones must stay)")
          case Some(g) if g.dataType != f.dataType =>
            throw new IllegalArgumentException(
              s"append retypes live column '${f.name}' " +
                s"(${f.dataType.sql} -> ${g.dataType.sql}) — schema " +
                "evolution is additive-only")
          case _ => ()
        }
      }
    }
    (for { id <- batchId; (v, _) <- live; committed <- batchIdOf(v)
           if committed == id } yield v).getOrElse {
      val prev = live.map(_._2).getOrElse(Nil)
      live.foreach { case (lv, _) =>
        enforceChecks(df, checkLinesOf(lv).map(_.stripPrefix("#check="))) }
      val v = currentVersion.getOrElse(0L) + 1
      val seg = stage(df, v, statCols, bloomCols)
      // delete files and CHECK constraints carry forward; the new
      // segment's stamp v is past every carried dv's horizon, so
      // appended rows are never retro-deleted (a re-appended key
      // becomes visible again)
      commit(v, prev :+ seg, ownStaged = Seq(seg.dir),
        extraLines = batchId.map(id => s"#batch=$id").toSeq ++
          live.map { case (lv, _) => carryLines(lv) }.getOrElse(Nil))
      v
    }
  }

  /** Write `df` z-order-clustered on `clusterCols` as `nSegments`
    * SEGMENTS of one new version — the layout step that makes
    * [[readWhereAll]] box queries prune multiplicatively. Pipeline:
    *
    *  1. per-column min/max (one tiny aggregate — metadata scale)
    *     parameterize [[Zorder.zvalue]];
    *  2. approxQuantile on the z-value rank-balances the segment
    *     boundaries (skewed data moves the cuts, not the balance);
    *  3. ONE partitionBy write lands every bucket as its own
    *     directory in a single pass — no per-segment job, no
    *     per-segment scan;
    *  4. one column-pruned aggregate over the staged files collects
    *     per-bucket min/max for `statCols` (the cluster columns are
    *     always tracked), and each bucket directory is renamed into
    *     a first-class segment of the committed version.
    *
    * Single-column `clusterCols` degrades to plain range clustering
    * — the control case a spec compares against. Returns the
    * committed version.
    */
  def writeClustered(df: DataFrame, clusterCols: Seq[String],
      nSegments: Int, statCols: Seq[String] = Nil, bits: Int = 10): Long = {
    import org.apache.spark.sql.functions.{col, lit, max, min, when}
    require(clusterCols.nonEmpty && nSegments >= 1)
    // overwrite semantics: constraints survive and gate the new data
    val prevChecks = currentVersion.map(checkLinesOf).getOrElse(Nil)
    enforceChecks(df, prevChecks.map(_.stripPrefix("#check=")))
    val v = currentVersion.getOrElse(0L) + 1

    val mmAggs = clusterCols.flatMap(c2 =>
      Seq(min(col(c2).cast("double")), max(col(c2).cast("double"))))
    val mmRow = df.agg(mmAggs.head, mmAggs.tail: _*).head()
    val dims = clusterCols.zipWithIndex.map { case (c2, i) =>
      (col(c2), mmRow.getDouble(2 * i), mmRow.getDouble(2 * i + 1))
    }
    val zdf = df.withColumn("_z", Zorder.zvalue(dims, bits))

    // rank-even z-range boundaries; duplicates collapse (heavy z
    // cells may merge buckets — fewer, never unbalanced, segments)
    val cuts = zdf.stat
      .approxQuantile("_z", (1 until nSegments).map(_.toDouble / nSegments).toArray, 0.001)
      .distinct.sorted
    val bucket = cuts.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("_z") > b, 1).otherwise(0)
    }

    val parent = new Path(rootPath,
      f"v$v%08d-${java.util.UUID.randomUUID.toString.take(8)}-stg")
    zdf.withColumn("_zb", bucket).drop("_z")
      .repartition(col("_zb"))
      .write.mode("errorifexists").partitionBy("_zb").parquet(parent.toString)

    val tracked = (clusterCols ++ statCols).distinct
    val statAggs = tracked.flatMap(c2 =>
      Seq(min(col(c2).cast("double")), max(col(c2).cast("double"))))
    val statRows = spark.read.parquet(parent.toString)
      .groupBy(col("_zb"))
      .agg(statAggs.head, statAggs.tail: _*)
      .collect()

    val segs = statRows.map { r =>
      val zb = r.getInt(0)
      val dir = new Path(rootPath, f"${parent.getName.stripSuffix("-stg")}-b$zb%04d")
      if (!fs.rename(new Path(parent, s"_zb=$zb"), dir))
        throw new java.io.IOException(s"rename of staged bucket $zb to $dir failed")
      val stats = tracked.zipWithIndex.flatMap { case (c2, i) =>
        (Option(r.get(2 * i + 1)), Option(r.get(2 * i + 2))) match {
          case (Some(mn: Number), Some(mx: Number)) =>
            Some(c2 -> (mn.doubleValue(), mx.doubleValue()))
          case _ => None
        }
      }.toMap
      Segment(dir, stats)
    }.sortBy(_.dir.getName).toSeq
    fs.delete(parent, true)
    commit(v, segs, ownStaged = segs.map(_.dir),
      extraLines = prevChecks)
    v
  }

  /** Land the data files for `v` in a writer-unique directory (no
    * commit — invisible to readers). Numeric `statCols` min/max are
    * collected DURING the write via an Observation — no second scan
    * — and ride the manifest for [[readWhere]] data skipping.
    * Returns the staged segment.
    */
  def stage(df: DataFrame, v: Long, statCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Segment = {
    import org.apache.spark.sql.functions.{col, max, min}
    val dir = new Path(rootPath,
      f"v$v%08d-${java.util.UUID.randomUUID.toString.take(8)}")
    val obs = statCols.map(_ -> new org.apache.spark.sql.Observation())
    val observed = obs.foldLeft(df) { case (d, (c2, o)) =>
      d.observe(o, min(col(c2).cast("double")).as("mn"),
        max(col(c2).cast("double")).as("mx"))
    }
    observed.write.mode("errorifexists").parquet(dir.toString)
    val stats = obs.flatMap { case (c2, o) =>
      val m = o.get
      (Option(m("mn")), Option(m("mx"))) match {
        case (Some(mn: Number), Some(mx: Number)) =>
          Some(c2 -> (mn.doubleValue(), mx.doubleValue()))
        case _ => None // all-null column: no stats, never skipped
      }
    }.toMap
    bloomCols.foreach(stageBloom(df, dir, _))
    Segment(dir, stats)
  }

  // ── Per-segment Bloom sidecars (point-lookup skipping) ───────────
  //
  // Min/max zone maps are useless for point lookups on a
  // high-cardinality key under hash-ish ingest: every segment's
  // [min, max] spans most of the key domain, so nothing prunes. A
  // per-segment Bloom filter answers "might this segment contain key
  // v?" in O(1) driver-side at planning time — the lakehouse formats'
  // bloom index, here as a `_bloom.<col>` sidecar INSIDE the segment
  // directory (underscore files are invisible to parquet scans, and
  // the sidecar lands during staging, before the manifest commit, so
  // it inherits the manifest's atomicity — no format change, old
  // manifests parse unchanged). A missing sidecar means "scan":
  // skipping is an optimization, never a filter.
  //
  // Sized to the SEGMENT: m = nextPrime(max(16381, 10·ndv)) bits
  // (~10 bits/distinct key → ~0.8% FP at k = 7; a fixed m would
  // saturate on big segments — at 19k keys a 16 Kbit filter fills to
  // 99.97% and prunes nothing), capped at 2²⁷ (16 MB sidecar; beyond
  // ~13M keys/segment, shard the segment before blooming it). m
  // rides the sidecar header, so every segment probes with its own
  // size. k = 7 probes via Kirsch–Mitzenmacher double hashing:
  // h1 = xxhash64(key) (Spark's seed-42 XXH64), h2 = xxhash64(h1);
  // probe_i = (h1 + i·h2) mod m with h2 forced nonzero mod m−1 (m
  // prime ⇒ the probe walk never cycles early). The build runs WHERE
  // THE DATA IS (one approx-ndv pass to size m + one
  // distinct-positions aggregate — ≤ m rows reach the driver no
  // matter the segment size); the probe side replays the identical
  // arithmetic driver-side via XXH64.hashLong, bit-for-bit.

  private val BloomMinBits = 16381L
  private val BloomMaxBits = 1L << 27
  private val BloomK = 7

  private def nextPrime(n: Long): Long = {
    def isPrime(x: Long): Boolean =
      x > 1 && (2L to math.sqrt(x.toDouble).toLong + 1).forall(d =>
        d >= x || x % d != 0)
    Iterator.from(0).map(n + _).find(isPrime).get
  }

  private def bloomFile(segDir: Path, c: String) =
    new Path(segDir, s"_bloom.$c")

  private def stageBloom(df: DataFrame, segDir: Path, c: String): Unit = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col,
      explode, lit, pmod, sequence, xxhash64}
    // cast to long BEFORE hashing: xxhash64 hashes int and long
    // inputs differently, and the probe side always hashes a Long —
    // a type mismatch here would be a false NEGATIVE (wrong results),
    // not a false positive
    val key = col(c).cast("long")
    val ndv = df.agg(approx_count_distinct(key).as("ndv"))
      .head.getLong(0)
    val m = nextPrime(math.min(BloomMaxBits,
      math.max(BloomMinBits, 10L * ndv)))
    val pos = df
      .select(pmod(xxhash64(key), lit(m)).as("p1"),
        (pmod(xxhash64(xxhash64(key)), lit(m - 1)) + lit(1L)).as("p2"))
      .select(explode(sequence(lit(0L), lit(BloomK - 1L))).as("i"),
        col("p1"), col("p2"))
      .select(pmod(col("p1") + col("i") * col("p2"), lit(m)).as("pos"))
      .distinct().collect().map(_.getLong(0))
    val bits = new java.util.BitSet(m.toInt)
    pos.foreach(p => bits.set(p.toInt))
    val out = fs.create(bloomFile(segDir, c), true)
    try {
      val hdr = java.nio.ByteBuffer.allocate(8).putLong(m).array()
      out.write(hdr)
      out.write(bits.toByteArray)
    } finally out.close()
  }


  /** False = the segment definitely does NOT contain `value` in `c`.
    * A segment without a sidecar for `c` always might.
    */
  def bloomMightContain(seg: Segment, c: String, value: Long): Boolean =
    ManifestTable.probeSidecar(seg.dir.toString, c, value, BloomK,
      spark.sparkContext.hadoopConfiguration)

  /** The live segments a point lookup must scan: zone-map overlap AND
    * Bloom possibly-contains — exposed so callers/specs can measure
    * `pointCandidates(...).size` vs [[segmentCount]].
    */
  def pointCandidates(c: String, value: Long): Seq[Segment] = {
    val (_, segs) = liveSegments.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root"))
    segs.filter { s =>
      s.stats.get(c).forall { case (mn, mx) => value >= mn && value <= mx } &&
        bloomMightContain(s, c, value)
    }
  }

  /** Point-lookup read: scan only [[pointCandidates]], then apply the
    * row-level equality — the payoff path for "fetch one key out of
    * a 10⁵-segment table" where zone maps alone prune nothing.
    */
  def readPoint(c: String, value: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col => cc, lit}
    val hit = pointCandidates(c, value)
    if (hit.isEmpty) read().filter(lit(false))
    else readSegmentsDvAware(hit,
      liveSegments.map { case (v, _) => dvsOf(v) }.getOrElse(Nil))
      .filter(cc(c) === value)
  }

  /** Atomic create-no-overwrite of the manifest claims the version;
    * its contents list the version's segments (readers skip a
    * manifest whose contents haven't landed yet, so the create→write
    * gap never surfaces). On a race loss only the directories THIS
    * writer staged (`ownStaged`) are removed — inherited segments
    * and the winner's data are untouched. A create failure that
    * ISN'T a race (no manifest exists — e.g. a transient filesystem
    * error) propagates without destroying staged data; a
    * content-write failure burns the version number (best-effort
    * manifest delete) but also keeps the staged data for a retry at
    * a fresh version.
    */
  def commit(v: Long, segs: Seq[Segment], ownStaged: Seq[Path],
      extraLines: Seq[String] = Nil): Unit = {
    val out = try fs.create(manifest(v), false)
    catch {
      case e: java.io.IOException if fs.exists(manifest(v)) =>
        ownStaged.foreach(fs.delete(_, true))
        throw new java.io.IOException(
          s"commit conflict on version $v of $root (concurrent writer won); retry", e)
    }
    try {
      out.write((segs.map(renderSegment) ++ extraLines).mkString("\n").getBytes(UTF_8))
      out.close()
    }
    catch {
      case e: java.io.IOException =>
        try out.close() catch { case _: java.io.IOException => () }
        fs.delete(manifest(v), false) // best effort; readers skip it anyway
        throw new java.io.IOException(
          s"manifest content write failed for version $v of $root; " +
            s"staged data kept at ${ownStaged.mkString(",")} — retry commits a fresh version", e)
    }
  }

  /** Copy-on-write box delete: remove every row where ALL predicates
    * hold (the [[readWhereAll]] box shape), committed as a NEW
    * version. Segments whose committed stats rule the box out carry
    * over UNTOUCHED — zero IO, the zone-map pruning inverted into
    * write-side pruning — and only overlapping segments are re-staged
    * with their survivors. At 100 TB this is the difference between a
    * GDPR-range delete costing O(affected segments) and O(table).
    * Old versions retain the rows (time travel doubles as the
    * retention window); [[vacuum]] is the actual erasure step.
    * Returns the committed version — the live one, with no new
    * commit, when no segment can contain a match. A predicate column
    * with no stats on a segment forces that segment through the
    * rewrite (skipping may never filter). Caveat: deleting every row
    * of every segment leaves an empty table, which — like the
    * empty-manifest case — needs a schema to read and is out of this
    * simplified manifest's scope.
    */
  def deleteWhere(preds: Seq[(String, Double, Double)],
      statCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(preds.nonEmpty, "deleteWhere needs at least one predicate")
    val (liveV, segs) = liveSegments.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root"))
    val hit = segs.filter(s => preds.forall { case (n, lo, hi) =>
      s.stats.get(n).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }).toSet
    if (hit.isEmpty) return liveV
    val v = currentVersion.getOrElse(0L) + 1
    val inBox = preds.map { case (n, lo, hi) => col(n).between(lo, hi) }
      .reduce(_ && _)
    // null-safe survivor filter: a null predicate column means the
    // row is NOT in the box — it must survive, not vanish. The read
    // is dv-AWARE: a MoR-deleted row must not resurrect inside the
    // rewritten survivor segment (whose fresh stamp would put it past
    // every dv horizon)
    val survivors = readSegmentsDvAware(hit.toSeq, dvsOf(liveV))
      .filter(!coalesce(inBox, lit(false)))
    val carried = segs.filterNot(hit)
    // a segment whose rows ALL matched must not become an empty,
    // stats-less survivor segment (it would ride into every future
    // box and the table would accrete husks) — commit carried-only
    if (survivors.isEmpty) {
      require(carried.nonEmpty,
        s"deleteWhere would empty $root — unsupported (schema-less manifest)")
      commit(v, carried, ownStaged = Nil, extraLines = carryLines(liveV))
    } else {
      val tracked = (segs.flatMap(_.stats.keys) ++ statCols).distinct
      val seg = stage(survivors, v, tracked)
      commit(v, carried :+ seg, ownStaged = Seq(seg.dir),
        extraLines = carryLines(liveV))
    }
    v
  }

  /** RESTORE: roll the table back to version `v` as a NEW commit —
    * history moves FORWARD (an audit trail never rewrites), the new
    * manifest simply lists `v`'s segments again, zero data IO (the
    * zero-copy posture of [[branchTo]] applied to time). Row-level
    * state is restored too: `v`'s delete files and CHECK constraints
    * carry verbatim. `#batch=` idempotency markers do NOT carry — a
    * rollback is not a re-delivery of that batch, and re-claiming
    * the id would make the streaming effectively-once path skip a
    * genuine future retry. Refuses when any of `v`'s segments has
    * been [[vacuum]]ed away (retention already erased that data);
    * rolling back to the live version is a no-op (returns it).
    */
  def rollbackTo(v: Long): Long = {
    // Parse v's manifest RAW — segments() exists-filters missing dirs
    // into None, which made the descriptive vacuumed-rollback message
    // below unreachable (every vacuumed rollback surfaced as the
    // generic "never committed" error instead). A missing MANIFEST is
    // still never-committed; missing segment or delete-file dirs get
    // the refusal that names exactly what retention erased.
    val segs = segmentsRaw(v).getOrElse(
      throw new java.io.FileNotFoundException(
        s"version $v of $root is not readable (never committed)"))
    val (liveV, _) = liveSegments.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root"))
    if (v == liveV) return liveV
    val gone = segs.filterNot(s => fs.exists(s.dir))
      .map(s => s"segment ${s.dir.getName}") ++
      dvsOf(v).filterNot(d => fs.exists(d.dir))
        .map(d => s"delete-file ${d.dir.getName}")
    require(gone.isEmpty,
      s"cannot roll back $root to version $v: " +
        s"${gone.mkString(", ")} were vacuumed — " +
        "the retention window has erased that data")
    val nv = currentVersion.getOrElse(0L) + 1
    val meta = manifestLines(v).getOrElse(Nil)
      .filter(l => l.startsWith("#") && !l.startsWith("#batch="))
    commit(nv, segs, ownStaged = Nil, extraLines = meta)
    nv
  }

  /** Incremental consumption: the rows ADDED since version `v` — the
    * live segments `v`'s manifest doesn't list. Exact while the
    * history from `v` to live is append-shaped; a rewriting commit in
    * between (write / compact / writeClustered / deleteWhere) breaks
    * segment containment, which is DETECTED (some of `v`'s segments
    * are no longer live) and throws rather than silently
    * double-counting — re-baseline from the current version then.
    */
  def readSince(v: Long): DataFrame = {
    val base = segments(v).getOrElse(
      throw new java.io.FileNotFoundException(
        s"version $v of $root is not readable")).map(_.dir.getName).toSet
    val (liveV, live) = liveSegments.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root"))
    val liveNames = live.map(_.dir.getName).toSet
    if (!base.subsetOf(liveNames))
      throw new IllegalStateException(
        s"history of $root from v$v to v$liveV is not append-only " +
          s"(a rewrite replaced ${base -- liveNames}); re-baseline from v$liveV")
    if (dvLinesOf(liveV).toSet != dvLinesOf(v).toSet)
      throw new IllegalStateException(
        s"history of $root from v$v to v$liveV is not append-only " +
          "(merge-on-read deletes committed in between); re-baseline " +
          s"from v$liveV")
    val added = live.filterNot(s => base.contains(s.dir.getName))
    if (added.isEmpty) read().limit(0)
    else readSegments(added)
  }

  /** Rewrite the live segments into one ~targetBytes-file segment as
    * a NEW version — readers of the old version are never disturbed.
    * This is also how an append chain's accumulated small segments
    * get folded down. @return (filesBefore, filesAfter)
    */
  def compact(targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val (liveV, live) = liveSegments.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root"))
    def parquetFiles(p: Path) =
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    val before = live.map(s => parquetFiles(s.dir)).sum
    val totalBytes = live.flatMap(s => fs.listStatus(s.dir))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // stats survive compaction: recollect over the union of columns
    // the live segments tracked. The read is dv-aware and write()
    // commits WITHOUT dv lines — compaction is where merge-on-read
    // delete files get folded in and retired
    val statCols = live.flatMap(_.stats.keys).distinct
    val committed = write(
      readSegmentsDvAware(live, dvsOf(liveV)).repartition(nOut),
      statCols, validate = false)
    (before, segments(committed).get.map(s => parquetFiles(s.dir)).sum)
  }

  /** Delete manifests of committed versions older than the newest
    * `keep`, then every segment/staging directory that (a) no
    * RETAINED manifest references — segments shared along an append
    * chain survive as long as any retained version lists them — and
    * (b) is versioned STRICTLY below the current version. A stager
    * AT the current version is spared: it may still be writing, and
    * deleting under an active job turns its clean conflict error
    * into task-level chaos. Manifests are deleted BEFORE data so a
    * crash mid-vacuum never leaves a manifest pointing at deleted
    * files. Returns how many committed versions were removed.
    */
  /** Zero-copy BRANCH (the lakeFS/Iceberg ref semantic, pointer
    *-manifest style): a new table at `branchRoot` whose v1 manifest
    * references this table's version-`v` segments BY FULL PATH — no
    * data moves, creation is O(segments) manifest lines. The branch
    * then lives its own life: appends/deletes/compactions stage
    * segments under ITS root and commit its own versions, none of
    * which the source ever sees (and vice versa — the fork point is
    * immutable history for both). Isolation of DELETION is
    * one-directional by construction: the branch's [[vacuum]] lists
    * only its own root, so it can never reclaim shared source
    * segments; the SOURCE's vacuum is branch-AWARE via a `_ref.*`
    * marker this call registers in the source root — vacuum retains
    * any source segment a registered branch's retained manifests
    * still reference, and reclaims both the marker and the pinned
    * segments once the branch root is gone (or [[dropBranchRef]]'d).
    * The refcount is one level deep: a branch-of-a-branch is pinned
    * through its parent for as long as the parent retains the shared
    * version — the chain holds while each link does, the standard
    * catalog contract.
    */
  def branchTo(branchRoot: String, v: Long): ManifestTable = {
    val segs = segments(v).getOrElse(throw new java.io.FileNotFoundException(
      s"version $v of $root does not resolve"))
    val br = new ManifestTable(spark, branchRoot)
    require(br.currentVersion.isEmpty,
      s"branch root $branchRoot already has history")
    // marker BEFORE the branch commit: a crash between the two leaves
    // a stale marker (reclaimed by the next vacuum — the branch root
    // has no committed history), never an unpinned live branch
    val marker = new Path(rootPath,
      s"_ref.${java.util.UUID.randomUUID.toString.take(8)}")
    val mout = fs.create(marker, false)
    try mout.write(branchRoot.getBytes(UTF_8)) finally mout.close()
    // delete files travel with the fork (by full path, like shared
    // segments) — a branch must not resurrect MoR-deleted rows
    val dvLines = dvsOf(v).map(d => s"#dv=${d.dir.toString}|${d.keyCol}|${d.v}")
    br.commit(1L, segs.map(s => br.Segment(s.dir, s.stats)),
      ownStaged = Nil, extraLines = dvLines ++ checkLinesOf(v))
    br
  }

  /** The registered cross-table branch references: (marker, branch
    * root) pairs.
    */
  private def refMarkers: Seq[(Path, String)] =
    if (!fs.exists(rootPath)) Nil
    else fs.listStatus(rootPath).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("_ref."))
      .map { p =>
        val in = fs.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        (p, s)
      }

  /** Unregister a branch explicitly (after promoting or abandoning
    * it) so its pin stops retaining source segments. Markers whose
    * branch root no longer has committed history are also reclaimed
    * automatically by [[vacuum]]. Returns markers removed.
    */
  def dropBranchRef(branchRoot: String): Int = {
    val hit = refMarkers.filter(_._2 == branchRoot)
    hit.foreach { case (m, _) => fs.delete(m, false) }
    hit.size
  }

  /** Append-only MERGE of a branch's divergent work back into this
    * table — the "promote the experiment" flow that completes
    * [[branchTo]]. The branch delta is every segment its live
    * version references beyond version `sinceV` (the fork manifest),
    * and it is REWRITTEN into one segment owned by THIS root rather
    * than referenced in place: a reference would leave the merged
    * rows' lifetime hostage to the branch's vacuum, which owns those
    * dirs — O(delta) IO buys ownership, the same trade compaction
    * makes. Returns the committed version, or the live version
    * unchanged when the branch added nothing. Semantics are
    * append-only (divergent DELETES don't propagate — a three-way
    * merge needs row lineage a pointer-manifest doesn't carry, so
    * the limit is documented rather than half-built).
    *
    * GUARDED against the rewrite-corruption mode: "delta = live
    * segments not in the fork manifest" is only the branch's new rows
    * while the branch history has been APPEND-ONLY since the fork. If
    * the branch ever ran compact() / writeClustered / deleteWhere, its
    * pre-fork rows were rewritten into fresh segments this filter
    * would classify as delta — merging would silently duplicate
    * (nearly) the whole pre-fork table into this one. That state is
    * detectable (some fork-manifest segment is no longer referenced by
    * the branch's live version), so it throws instead of corrupting;
    * promote a rewritten branch by an explicit anti-join merge the
    * caller owns, where the dedup key is theirs to choose.
    */
  def mergeAppendsFrom(br: ManifestTable, sinceV: Long = 1L,
      statCols: Seq[String] = Nil): Long = {
    val base = br.segments(sinceV).getOrElse(Seq.empty)
      .map(_.dir.toString).toSet
    val (liveV, liveSegs) = br.liveSegments.getOrElse(
      throw new java.io.FileNotFoundException(
        s"branch ${br.rootPath} is empty"))
    val liveNames = liveSegs.map(_.dir.toString).toSet
    if (!base.subsetOf(liveNames))
      throw new IllegalStateException(
        s"branch ${br.rootPath} history from v$sinceV to v$liveV is not " +
          s"append-only (a rewrite replaced ${base -- liveNames}); " +
          "mergeAppendsFrom would duplicate rewritten pre-fork rows — " +
          "merge a compacted/deleted-from branch explicitly instead")
    if (br.dvLinesOf(liveV).toSet != br.dvLinesOf(sinceV).toSet)
      throw new IllegalStateException(
        s"branch ${br.rootPath} committed merge-on-read deletes since " +
          s"v$sinceV — divergent deletes don't propagate through an " +
          "append-only merge; compact the branch first (folding its " +
          "delete files in), then merge")
    val delta = liveSegs.filterNot(s => base.contains(s.dir.toString))
    if (delta.isEmpty) return currentVersion.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version under $root"))
    append(br.readSegments(delta), statCols = statCols)
  }

  def vacuum(keep: Int = 1): Int = {
    require(keep >= 1, "must keep at least the live version")
    val cur = currentVersion.getOrElse(return 0)
    val all = committedVersions.sorted
    val drop = all.dropRight(keep).filter(_ < cur)
    drop.foreach(v => fs.delete(manifest(v), false))
    val ownReferenced = (all.toSet -- drop)
      .flatMap(v => segmentsRaw(v).getOrElse(Nil).map(_.dir.getName) ++
        dvsOf(v).filter(_.dir.getParent == rootPath).map(_.dir.getName))
    // cross-table refcount: a segment under THIS root that a
    // registered branch's retained manifests still reference survives
    // — the branch pin [[branchTo]] promises. A marker whose branch
    // root has no committed history is an orphan (branch deleted, or
    // a crashed branchTo) and is reclaimed here, un-pinning with it.
    val branchPinned = refMarkers.flatMap { case (marker, brRoot) =>
      val br = new ManifestTable(spark, brRoot)
      val brVersions = br.committedVersions
      if (brVersions.isEmpty) { fs.delete(marker, false); Nil }
      else brVersions.flatMap(v => br.manifestLines(v).getOrElse(Nil))
        .collect {
          case l if !l.startsWith("#") => new Path(l.split('|').head)
          case l if l.startsWith("#dv=") =>
            new Path(l.stripPrefix("#dv=").split('|').head)
        }
        .filter(_.getParent == rootPath)
        .map(_.getName)
    }.toSet
    val referenced = ownReferenced ++ branchPinned
    fs.listStatus(rootPath).foreach { st =>
      st.getPath.getName match {
        case DataDirName(d) if d.toLong < cur &&
            !referenced.contains(st.getPath.getName) =>
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
    drop.size
  }
}

/** Static (executor-safe) pieces of the Bloom probe path: no
  * reference to a table instance or a SparkSession, so tasks can run
  * them without closure-capturing the driver-side object.
  */
object ManifestTable {

  /** k probe positions via Kirsch–Mitzenmacher double hashing off
    * Spark's seed-42 XXH64 — the arithmetic [[ManifestTable.stageBloom]]
    * runs as column expressions, replayed bit-for-bit.
    */
  private[graft] def bloomPositions(value: Long, m: Long, k: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h1 = XXH64.hashLong(value, 42L)
    val h2 = XXH64.hashLong(h1, 42L)
    val p1 = Math.floorMod(h1, m)
    val p2 = Math.floorMod(h2, m - 1) + 1
    (0 until k).map(i => ((p1 + i * p2) % m).toInt)
  }

  /** True = the segment MIGHT contain `value` (missing/empty sidecar
    * included — skipping is an optimization, never a filter).
    */
  private[graft] def probeSidecar(segDir: String, c: String, value: Long,
      k: Int, conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val f = new Path(segDir, s"_bloom.$c")
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) return true
    val in = fs.open(f)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
    if (bytes.length < 8) return true
    val m = java.nio.ByteBuffer.wrap(bytes, 0, 8).getLong
    val bits = java.util.BitSet.valueOf(
      java.util.Arrays.copyOfRange(bytes, 8, bytes.length))
    bloomPositions(value, m, k).forall(bits.get)
  }
}
