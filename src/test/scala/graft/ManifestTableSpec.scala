package graft

import graft.pipeline.ManifestTable
import org.apache.spark.sql.functions._

class ManifestTableSpec extends SparkSpec {

  private def freshTable(): ManifestTable =
    new ManifestTable(spark,
      java.nio.file.Files.createTempDirectory("manifest_tbl").toString + "/t")

  test("write → read round trip, versions advance") {
    import spark.implicits._
    val t = freshTable()
    assert(t.currentVersion.isEmpty)
    val v1 = t.write(Seq((1, "a"), (2, "b")).toDF("id", "s"))
    assert(v1 == 1 && t.currentVersion.contains(1L))
    assert(t.read().count() == 2)
    val v2 = t.write(Seq((3, "c")).toDF("id", "s"))
    assert(v2 == 2)
    assert(t.read().collect().map(_.getInt(0)).toSet == Set(3))
  }

  test("schema evolution: added column null-fills old segments; drops and retypes are rejected at append") {
    import spark.implicits._
    val t = freshTable()
    val v1 = t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // additive append: new column `lang` arrives with batch 2
    t.append(Seq((3L, "c", "en"), (4L, "d", "de")).toDF("id", "s", "lang"))
    val rows = t.read().select($"id", $"s", $"lang").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(rows == Set(
      (1L, "a", None), (2L, "b", None),            // old segment null-fills
      (3L, "c", Some("en")), (4L, "d", Some("de"))))
    // time travel still sees v1 under v1's OWN schema — no lang column
    assert(!t.readVersion(v1).columns.contains("lang"))
    // dropping a live column is rejected at publish time
    val eDrop = intercept[IllegalArgumentException] {
      t.append(Seq((5L, "x")).toDF("id", "lang"))
    }
    assert(eDrop.getMessage.contains("drops live column"), eDrop.getMessage)
    // retyping a live column likewise
    val eType = intercept[IllegalArgumentException] {
      t.append(Seq((6, "y", "fr")).toDF("id", "s", "lang"))
    }
    assert(eType.getMessage.contains("retypes live column"), eType.getMessage)
    // and stats/skipping still work across the evolved chain
    t.append(Seq((10L, "z", "en")).toDF("id", "s", "lang"),
      statCols = Seq("id"))
    assert(t.readWhere("id", 10, 99).collect().map(_.getLong(0)).toSet == Set(10L))
  }

  test("time travel: readVersion reads any retained version; vacuum retires it") {
    import spark.implicits._
    val t = freshTable()
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "s"))       // v1
    t.append(Seq((3, "c")).toDF("id", "s"))                // v2 = v1 + seg
    t.write(Seq((9, "z")).toDF("id", "s"))                 // v3 full rewrite
    assert(t.versions == Seq(1L, 2L, 3L))
    assert(t.readVersion(1).collect().map(_.getInt(0)).toSet == Set(1, 2))
    assert(t.readVersion(2).collect().map(_.getInt(0)).toSet == Set(1, 2, 3))
    assert(t.readVersion(3).collect().map(_.getInt(0)).toSet == Set(9))
    intercept[java.io.FileNotFoundException](t.readVersion(7))
    t.vacuum(keep = 1)
    assert(t.versions == Seq(3L))
    intercept[java.io.FileNotFoundException](t.readVersion(1))
    assert(t.readVersion(3).count() == 1) // live version unaffected
  }

  test("rollback past an erased segment or delete-file dir refuses with the descriptive vacuumed message") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val t = freshTable()
    t.write((1L to 10L).map(i => (i, i * 2)).toDF("id", "m"),
      statCols = Seq("id"))                                  // v1
    t.deleteWhereMor(Seq(("id", 3.0, 4.0)), "id")            // v2 (+dv)
    t.write(Seq((99L, 0L)).toDF("id", "m"), statCols = Seq("id")) // v3
    val root = new Path(t.read().inputFiles.head).getParent.getParent
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("v")).sortBy(_.getName)
    // erase v2's DELETE-FILE dir (simulated retention) → descriptive
    val dvDir = dirs.find(_.getName.contains("-dv-")).get
    fs.delete(dvDir, true)
    val e1 = intercept[IllegalArgumentException] { t.rollbackTo(2L) }
    assert(e1.getMessage.contains("were vacuumed"), e1.getMessage)
    assert(e1.getMessage.contains("delete-file"), e1.getMessage)
    // erase v1's SEGMENT dir too → descriptive, names the segment
    val segDir = dirs.find(d => d.getName.startsWith("v00000001")).get
    fs.delete(segDir, true)
    val e2 = intercept[IllegalArgumentException] { t.rollbackTo(1L) }
    assert(e2.getMessage.contains("were vacuumed"), e2.getMessage)
    assert(e2.getMessage.contains("segment"), e2.getMessage)
    // a version that never existed keeps the generic not-committed path
    intercept[java.io.FileNotFoundException] { t.rollbackTo(7L) }
    // and the live version still reads — the refusals changed nothing
    assert(t.read().count() == 1)
  }

  test("publish is reader-atomic: an in-flight reader of the old version survives a new commit") {
    import spark.implicits._
    val t = freshTable()
    t.write((1 to 100).toDF("id"))
    val oldReader = t.read() // resolves v1, lazily
    t.write((200 to 205).toDF("id"))
    // the old version's files still exist — the pre-commit resolution
    // stays valid even though the live table moved on
    assert(oldReader.count() == 100)
    assert(t.read().count() == 6)
  }

  test("compact shrinks file count as a new version without touching the old one") {
    import spark.implicits._
    val t = freshTable()
    t.write((1 to 1000).toDF("id").repartition(16))
    val (before, after) = t.compact(targetBytes = 1024L * 1024 * 1024)
    assert(before == 16 && after == 1)
    assert(t.currentVersion.contains(2L))
    assert(t.read().count() == 1000)
  }

  test("append chains share segments; vacuum never deletes a segment a retained version lists") {
    import spark.implicits._
    val t = freshTable()
    t.write((1 to 10).toDF("id"))          // v1: segment A
    t.append((11 to 15).toDF("id"))        // v2: A + B
    t.append((16 to 18).toDF("id"))        // v3: A + B + C
    assert(t.currentVersion.contains(3L))
    assert(t.read().count() == 18)
    // dropping v1 and v2 must keep segment A (and B): v3 lists them
    val removed = t.vacuum(keep = 1)
    assert(removed == 2)
    assert(t.read().count() == 18,
      "live append chain broken by vacuum — a shared segment was deleted")
    // compact folds the chain into one segment as a new version
    val (before, after) = t.compact(targetBytes = 1024L * 1024 * 1024)
    assert(before >= 3 && after == 1)
    assert(t.read().count() == 18)
    // now the old segments are unreferenced and vacuum may drop them
    t.vacuum(keep = 1)
    assert(t.read().count() == 18)
  }

  test("segment stats skip non-overlapping segments in readWhere") {
    import spark.implicits._
    val t = freshTable()
    // three appended segments with disjoint id ranges, stats on id
    t.write((1 to 100).toDF("id"), statCols = Seq("id"))
    t.append((101 to 200).toDF("id"), statCols = Seq("id"))
    t.append((201 to 300).toDF("id"), statCols = Seq("id"))
    val q = t.readWhere("id", 150, 160)
    assert(q.collect().map(_.getInt(0)).sorted.toSeq == (150 to 160).toSeq)
    // only the middle segment's files are planned
    val dirs = q.inputFiles.map(f =>
      new org.apache.hadoop.fs.Path(f).getParent.getName).distinct
    assert(dirs.length == 1, s"expected 1 segment scanned, got ${dirs.toSeq}")
    // a range outside every segment reads empty without error
    assert(t.readWhere("id", 1000, 2000).count() == 0)
    // stats survive compaction
    t.compact(targetBytes = 1024L * 1024 * 1024)
    assert(t.readWhere("id", 150, 160).count() == 11)
  }

  test("deleteWhere rewrites only stat-overlapping segments; the rest carry over untouched") {
    import spark.implicits._
    val t = freshTable()
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), statCols = Seq("x"))
    t.append(Seq((3L, 30L), (4L, 40L)).toDF("id", "x"), statCols = Seq("x"))
    t.append(Seq((5L, 50L), (6L, 60L)).toDF("id", "x"), statCols = Seq("x"))
    val before = t.overlappingSegments(Nil).map(_.dir.getName).toSet
    val v = t.deleteWhere(Seq(("x", 25.0, 45.0)))
    assert(t.currentVersion.contains(v))
    // rows in the box are gone, everything else survives
    assert(t.read().collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L, 6L))
    // segments 1 and 3 (x ranges [10,20] and [50,60]) carried over by
    // NAME — zero rewrite IO; only the middle segment was replaced
    val after = t.overlappingSegments(Nil).map(_.dir.getName).toSet
    assert((before & after).size == 2, s"carried ${before & after}")
    // the old version still has the deleted rows (retention window)
    assert(t.readVersion(v - 1).count() == 6)
    // a box no segment can contain is a no-op: same version comes back
    assert(t.deleteWhere(Seq(("x", 1000.0, 2000.0))) == v)
  }

  test("readSince returns appended rows only, and detects a rewrite in between") {
    import spark.implicits._
    val t = freshTable()
    val v1 = t.append(Seq((1L, "a")).toDF("id", "s"))
    t.append(Seq((2L, "b")).toDF("id", "s"))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    assert(t.readSince(v1).collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(t.readSince(t.currentVersion.get).count() == 0)
    t.compact() // rewrite: v1's segment is no longer live
    intercept[IllegalStateException](t.readSince(v1))
  }

  test("replaying the same batch id is idempotent (effectively-once)") {
    import spark.implicits._
    val t = freshTable()
    val v1 = t.append((1 to 3).toDF("id"), batchId = Some(7L))
    val v2 = t.append((1 to 3).toDF("id"), batchId = Some(7L)) // crash replay
    assert(v1 == v2 && t.currentVersion.contains(v1))
    assert(t.read().count() == 3, "replayed batch must not duplicate rows")
    val v3 = t.append((4 to 5).toDF("id"), batchId = Some(8L))
    assert(v3 == v1 + 1 && t.read().count() == 5)
  }

  test("streaming micro-batches publish as atomic versions") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val t = freshTable()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("manifest_ckpt").toString
    val q = graft.streaming.EventStream
      .intoManifestTable(mem.toDF(), t, ckpt).start()
    try {
      mem.addData(1L, 2L, 3L)
      q.processAllAvailable()
      assert(t.currentVersion.contains(1L))
      assert(t.read().count() == 3)
      mem.addData(4L, 5L)
      q.processAllAvailable()
      assert(t.currentVersion.contains(2L))
      assert(t.read().collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
    } finally q.stop()
  }

  test("bloom sidecars prune hash-split segments; lookups stay exact; no sidecar ⇒ scanned") {
    import spark.implicits._
    val t = freshTable()
    // 4 hash-split segments over ids 0..399: every segment's [min,
    // max] spans ~the whole domain, so only the bloom can prune
    (0 until 4).foreach { i =>
      t.append((0 until 400).filter(_ % 4 == i).toDF("id")
          .select($"id".cast("long").as("id")),
        statCols = Seq("id"), bloomCols = Seq("id"))
    }
    (0L until 400L by 37L).foreach { k =>
      val cand = t.pointCandidates("id", k)
      assert(cand.size < t.segmentCount,
        s"key $k: bloom pruned nothing (${cand.size} of ${t.segmentCount})")
      assert(t.readPoint("id", k).collect().map(_.getLong(0)).toSeq == Seq(k),
        s"key $k: wrong lookup result")
    }
    // absent key inside the zone range: bloom may false-positive a
    // segment, but the row filter keeps the READ exact
    assert(t.readPoint("id", 401L).count() == 0)
    // out-of-range key: zone maps alone already rule everything out
    assert(t.pointCandidates("id", 5000L).isEmpty)
    // a segment appended WITHOUT a bloom must always stay a candidate
    // for any key its zone range admits — even an absent one
    t.append(Seq(1000L, 1010L).toDF("id"), statCols = Seq("id"))
    val blind = t.pointCandidates("id", 1005L)
    assert(blind.size == 1,
      s"bloom-less segment must be scanned for in-range keys: $blind")
    assert(t.readPoint("id", 1005L).count() == 0)
    assert(t.readPoint("id", 1000L).collect().map(_.getLong(0)).toSeq
      == Seq(1000L))
  }

  test("bloom sizes itself to the segment: 30k-key segments still prune") {
    val t = freshTable()
    (0 until 2).foreach { i =>
      t.append(spark.range(0, 60000).filter(col("id") % 2 === i).toDF(),
        statCols = Seq("id"), bloomCols = Seq("id"))
    }
    // a FIXED 16 Kbit filter fills to ~99.97% at 30k keys and stops
    // pruning; the sized filter holds ~0.8% FP, so across 41 probes
    // nearly all must resolve to exactly their home segment
    val cands = (0L until 40000L by 997L).map(k =>
      t.pointCandidates("id", k).size)
    assert(cands.forall(c => c >= 1 && c <= 2), s"cands=$cands")
    assert(cands.count(_ == 2) <= 5, s"bloom saturated: $cands")
  }

  test("commit conflict loses cleanly and vacuum bounds history") {
    import spark.implicits._
    val t = freshTable()
    t.write((1 to 10).toDF("id"))
    t.write((1 to 20).toDF("id"))
    t.write((1 to 30).toDF("id"))
    val removed = t.vacuum(keep = 1)
    assert(removed == 2)
    assert(t.read().count() == 30) // live version untouched
    // race: we stage version 4; a concurrent writer commits 4 first;
    // our commit must lose cleanly — our staged dir removed, the
    // winner's manifest and data untouched
    val loser = t.stage((1 to 5).toDF("id"), 4L)
    val root = loser.dir.getParent
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val winner = t.stage((100 to 100).toDF("id"), 4L)
    t.commit(4L, Seq(winner), ownStaged = Seq(winner.dir))
    intercept[java.io.IOException] {
      t.commit(4L, Seq(loser), ownStaged = Seq(loser.dir))
    }
    assert(!fs.exists(loser.dir), "losing writer must clean its staged directory")
    assert(fs.exists(winner.dir), "winner's data must be untouched by the loser")
    assert(t.read().collect().map(_.getInt(0)).toSeq == Seq(100),
      "winner's commit must be the live version")
  }

  test("branch: zero-copy fork, divergent appends isolated both ways, branch vacuum never reclaims shared segments") {
    import spark.implicits._
    val src = freshTable()
    val v1 = src.write((1 to 10).toDF("id"))
    src.append((11 to 20).toDF("id"))
    val branchRoot =
      java.nio.file.Files.createTempDirectory("manifest_br").toString + "/b"
    val br = src.branchTo(branchRoot, v1)
    // fork = exactly the v1 snapshot, and it was zero-copy: the
    // branch root holds no data dirs yet, only the manifest
    assert(br.read().collect().map(_.getInt(0)).toSet == (1 to 10).toSet)
    val fs = new org.apache.hadoop.fs.Path(branchRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(branchRoot))
      .filter(_.isDirectory)
    assert(dataDirs.isEmpty, s"fork copied data: ${dataDirs.map(_.getPath).toSeq}")
    // divergent lives: each side appends; neither sees the other
    br.append((100 to 105).toDF("id"))
    src.append((21 to 30).toDF("id"))
    assert(br.read().collect().map(_.getInt(0)).toSet ==
      (1 to 10).toSet ++ (100 to 105).toSet)
    assert(src.read().collect().map(_.getInt(0)).toSet == (1 to 30).toSet)
    // branch vacuum drops its own old versions but CANNOT touch the
    // shared source segments — both sides still read correctly after
    br.append((200 to 201).toDF("id"))
    br.vacuum(keep = 1)
    assert(br.read().collect().map(_.getInt(0)).toSet ==
      (1 to 10).toSet ++ (100 to 105).toSet ++ (200 to 201).toSet)
    assert(src.read().count() == 30, "source lost data to a branch vacuum")
    // a second branch on a used root is rejected
    intercept[IllegalArgumentException] { src.branchTo(branchRoot, v1) }
  }

  test("merge re-owns the branch delta: rows survive the branch's deletion; no-op merge commits nothing") {
    import spark.implicits._
    val src = freshTable()
    val v1 = src.write((1 to 10).toDF("id"))
    val brRoot =
      java.nio.file.Files.createTempDirectory("manifest_mg").toString + "/b"
    val br = src.branchTo(brRoot, v1)
    // a no-delta merge must not commit a version
    val before = src.currentVersion.get
    assert(src.mergeAppendsFrom(br) == before)
    assert(src.currentVersion.contains(before))
    // divergent branch work merges back append-only
    br.append((100 to 104).toDF("id"))
    br.append((200 to 201).toDF("id"))
    src.mergeAppendsFrom(br)
    assert(src.read().collect().map(_.getInt(0)).toSet ==
      (1 to 10).toSet ++ (100 to 104).toSet ++ (200 to 201).toSet)
    // ownership: wipe the whole branch root — main must still read
    // every merged row (a reference-style merge would dangle here)
    val fs = new org.apache.hadoop.fs.Path(brRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(brRoot), true)
    assert(src.read().collect().map(_.getInt(0)).toSet ==
      (1 to 10).toSet ++ (100 to 104).toSet ++ (200 to 201).toSet,
      "merged rows lost when the branch was deleted — delta not re-owned")
  }

  test("mergeAppendsFrom refuses a branch that rewrote history since the fork (r10 advice)") {
    import spark.implicits._
    // a compacted branch rewrites its pre-fork rows into new
    // branch-owned segments; the naive live-minus-fork delta would
    // classify ALL of them as new and silently duplicate the table
    // into main — the guard must throw instead, before any commit
    val src = freshTable()
    val v1 = src.write((1 to 10).toDF("id"))
    val brRoot =
      java.nio.file.Files.createTempDirectory("manifest_mgc").toString + "/b"
    val br = src.branchTo(brRoot, v1)
    br.append((100 to 104).toDF("id"))
    br.compact()
    val before = src.currentVersion.get
    val ex = intercept[IllegalStateException] { src.mergeAppendsFrom(br) }
    assert(ex.getMessage.contains("append-only"), ex.getMessage)
    assert(src.currentVersion.contains(before),
      "guard fired but a version was still committed")
    assert(src.read().collect().map(_.getInt(0)).toSet == (1 to 10).toSet,
      "main mutated by a refused merge")
    // a copy-on-write delete on the branch is the same corruption
    // class and must also refuse
    val br2 = src.branchTo(brRoot + "2", v1)
    br2.append((200 to 204).toDF("id"))
    // give the fork segment stats so deleteWhere rewrites it
    val br3root = brRoot + "3"
    val src2 = freshTable()
    src2.write((1 to 10).toDF("id"), statCols = Seq("id"))
    val br3 = src2.branchTo(br3root, src2.currentVersion.get)
    br3.deleteWhere(Seq(("id", 1.0, 3.0)))
    intercept[IllegalStateException] { src2.mergeAppendsFrom(br3) }
  }

  test("refcount vacuum: neither vacuum order reclaims a branch-shared segment; a dead branch's pin is") {
    import spark.implicits._
    val src = freshTable()
    val v1 = src.write((1 to 10).toDF("id"))
    // full rewrite: v1's segment is no longer referenced by ANY live
    // source version — before the refcount, src.vacuum(keep=1) would
    // delete it out from under the branch
    src.write((11 to 20).toDF("id"))
    val brRoot =
      java.nio.file.Files.createTempDirectory("manifest_rc").toString + "/b"
    val br = src.branchTo(brRoot, v1)
    src.vacuum(keep = 1)
    assert(br.read().collect().map(_.getInt(0)).toSet == (1 to 10).toSet,
      "source vacuum reclaimed a segment the branch still references")
    assert(src.read().collect().map(_.getInt(0)).toSet == (11 to 20).toSet)
    // the other order: branch vacuums first, then source again
    br.vacuum(keep = 1)
    src.vacuum(keep = 1)
    assert(br.read().collect().map(_.getInt(0)).toSet == (1 to 10).toSet)
    // branch deleted wholesale (no polite dropBranchRef): the next
    // source vacuum reclaims BOTH the stale marker and the segment
    val srcRoot = new org.apache.hadoop.fs.Path(
      src.read().inputFiles.head).getParent.getParent
    val fs = srcRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(brRoot), true)
    src.vacuum(keep = 1)
    val leftover = fs.listStatus(srcRoot).map(_.getPath.getName)
    assert(!leftover.exists(_.startsWith("_ref.")),
      s"stale branch marker survived: ${leftover.toSeq}")
    assert(!leftover.exists(_.startsWith("v00000001")),
      s"dead branch's pinned segment not reclaimed: ${leftover.toSeq}")
    assert(src.read().collect().map(_.getInt(0)).toSet == (11 to 20).toSet)
    // explicit unref works too
    val br2Root = brRoot + "2"
    src.branchTo(br2Root, src.currentVersion.get)
    assert(src.dropBranchRef(br2Root) == 1)
  }

  test("MoR delete: zero rewrite, read subtracts keys, re-append resurrects, compact folds dvs in") {
    import spark.implicits._
    val t = freshTable()
    t.write((1L to 100L).map(i => (i, i % 10)).toDF("id", "m"),
      statCols = Seq("id"))
    val filesBefore = t.read().inputFiles.toSet
    // MoR delete ids [40, 60] — no data file may be touched
    val v = t.deleteWhereMor(Seq(("id", 40.0, 60.0)), "id")
    assert(v == 2 && t.deleteFileCount == 1)
    assert(t.read().select($"id").collect().map(_.getLong(0)).toSet ==
      ((1L to 39L) ++ (61L to 100L)).toSet)
    assert(filesBefore.subsetOf(
      t.readVersion(1L).inputFiles.toSet), "data files rewritten")
    // time travel: v1 still sees everything
    assert(t.readVersion(1L).count() == 100)
    // zone-map read path applies dvs too
    assert(t.readWhere("id", 30.0, 70.0).select($"id")
      .collect().map(_.getLong(0)).toSet ==
      ((30L to 39L) ++ (61L to 70L)).toSet)
    // readSince treats the MoR delete as a rewrite (not append-only)
    intercept[IllegalStateException] { t.readSince(1L) }
    // re-append two deleted keys: the dv horizon must not cover the
    // new segment — they come back exactly once
    t.append(Seq((50L, 99L), (55L, 99L)).toDF("id", "m"),
      statCols = Seq("id"))
    val after = t.read().select($"id", $"m").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(after.count(_._1 == 50L) == 1 && after.count(_._1 == 55L) == 1)
    assert(after.filter(_._1 == 50L).head._2 == 99L)
    // a second MoR delete stacks; a CoW delete after it must not
    // resurrect MoR-deleted rows in its rewritten survivors
    t.deleteWhereMor(Seq(("id", 90.0, 95.0)), "id")
    assert(t.deleteFileCount == 2)
    t.deleteWhere(Seq(("id", 1.0, 5.0)))
    val ids = t.read().select($"id").collect().map(_.getLong(0)).toSet
    val want = ((6L to 39L) ++ Seq(50L, 55L) ++ (61L to 89L) ++
      (96L to 100L)).toSet
    assert(ids == want, s"extra=${ids -- want} missing=${want -- ids}")
    // compact folds the delete files in and retires them
    t.compact()
    assert(t.deleteFileCount == 0)
    assert(t.read().select($"id").collect().map(_.getLong(0)).toSet == want)
    // vacuum now reclaims the unreferenced dv dirs
    t.vacuum(keep = 1)
    assert(t.read().select($"id").collect().map(_.getLong(0)).toSet == want)
  }

  test("MoR upsert: one commit replaces matched keys and inserts new ones; old version intact") {
    import spark.implicits._
    val t = freshTable()
    t.write((1L to 10L).map(i => (i, "old")).toDF("id", "s"),
      statCols = Seq("id"))
    // replace 3,4 and insert 11 — one commit
    val v = t.upsertMor(
      Seq((3L, "new"), (4L, "new"), (11L, "new")).toDF("id", "s"), "id")
    assert(v == 2 && t.deleteFileCount == 1)
    val rows = t.read().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 11)
    assert(rows(3L) == "new" && rows(4L) == "new" && rows(11L) == "new")
    assert(rows(5L) == "old")
    // time travel: v1 unchanged; a second upsert stacks on the first
    assert(t.readVersion(1L).collect()
      .map(r => r.getString(1)).forall(_ == "old"))
    t.upsertMor(Seq((3L, "newer")).toDF("id", "s"), "id")
    assert(t.read().filter($"id" === 3L).collect()
      .map(_.getString(1)).toSeq == Seq("newer"))
    // compact folds both upserts' dvs in
    t.compact()
    assert(t.deleteFileCount == 0 && t.read().count() == 11)
  }

  test("CHECK constraints: reject violating batches atomically, survive overwrite/compact/branch, NULL passes") {
    import spark.implicits._
    val t = freshTable()
    t.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    val vCheck = t.addCheck("v >= 0")
    assert(t.checks == Seq("v >= 0"))
    // registering a check the data violates is itself rejected
    intercept[IllegalArgumentException] { t.addCheck("v >= 15") }
    // a violating append is rejected whole — nothing committed
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((3L, -5L), (4L, 30L)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("v >= 0") && e.getMessage.contains("1 row"))
    assert(t.currentVersion.contains(vCheck) && t.read().count() == 2)
    // a clean append passes and the constraint carries forward
    t.append(Seq((3L, 30L)).toDF("id", "v"))
    assert(t.checks == Seq("v >= 0"))
    // NULL passes (SQL CHECK semantics)
    t.append(Seq((4L, Option.empty[Long])).toDF("id", "v"))
    assert(t.read().count() == 4)
    // overwrite keeps the constraint and validates the new frame
    intercept[IllegalArgumentException] {
      t.write(Seq((9L, -1L)).toDF("id", "v"))
    }
    t.write(Seq((9L, 1L)).toDF("id", "v"))
    assert(t.checks == Seq("v >= 0") && t.read().count() == 1)
    // upsert validates; compact and MoR delete carry the line
    intercept[IllegalArgumentException] {
      t.upsertMor(Seq((9L, -2L)).toDF("id", "v"), "id")
    }
    t.upsertMor(Seq((9L, 2L), (10L, 3L)).toDF("id", "v"), "id")
    t.deleteWhereMor(Seq(("v", 3.0, 3.0)), "id")
    t.compact()
    assert(t.checks == Seq("v >= 0"))
    // the constraint travels with a branch fork
    val broot = java.nio.file.Files
      .createTempDirectory("manifest_chk").toString + "/b"
    val br = t.branchTo(broot, t.currentVersion.get)
    assert(br.checks == Seq("v >= 0"))
    intercept[IllegalArgumentException] {
      br.append(Seq((11L, -7L)).toDF("id", "v"))
    }
  }

  test("history reads the whole metadata story: segments, dvs, checks, batch markers per version") {
    import spark.implicits._
    val t = freshTable()
    t.write((1L to 10L).map(i => (i, i)).toDF("id", "v"),
      statCols = Seq("id"))
    t.append(Seq((11L, 11L)).toDF("id", "v"), batchId = Some(7L))
    t.addCheck("v >= 0")
    t.deleteWhereMor(Seq(("id", 3.0, 4.0)), "id")
    val h = t.history
    assert(h.map(_.version) == Seq(1L, 2L, 3L, 4L))
    assert(h.map(_.segments) == Seq(1, 2, 2, 2))
    assert(h.map(_.deleteFiles) == Seq(0, 0, 0, 1))
    assert(h.map(_.checks) == Seq(0, 0, 1, 1))
    assert(h.map(_.batchId) == Seq(None, Some(7L), None, None))
    // vacuum trims the readable history from the front
    t.vacuum(keep = 2)
    assert(t.history.map(_.version) == Seq(3L, 4L))
  }

  test("MoR delete travels with a branch; a branch with divergent dvs refuses append-only merge") {
    import spark.implicits._
    val t = freshTable()
    t.write((1L to 20L).map(i => (i, "x")).toDF("id", "s"),
      statCols = Seq("id"))
    t.deleteWhereMor(Seq(("id", 1.0, 5.0)), "id")
    val broot = java.nio.file.Files
      .createTempDirectory("manifest_br").toString + "/b"
    val br = t.branchTo(broot, 2L)
    // the fork sees the deletes (no resurrection through the branch)
    assert(br.read().select($"id").collect().map(_.getLong(0)).toSet ==
      (6L to 20L).toSet)
    // branch's own append is past the foreign dv's horizon
    br.append(Seq((3L, "back")).toDF("id", "s"), statCols = Seq("id"))
    assert(br.read().filter($"id" === 3L).count() == 1)
    // branch-side MoR delete diverges → merge refuses
    br.deleteWhereMor(Seq(("id", 10.0, 12.0)), "id")
    val e = intercept[IllegalStateException] {
      t.mergeAppendsFrom(br, sinceV = 1L)
    }
    assert(e.getMessage.contains("merge-on-read"))
  }

  test("WAP: a clean batch publishes through the branch; a dirty batch never touches main") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val t = freshTable()
    t.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    val audit = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(
        sum(when($"v" < 0L, 1L).otherwise(0L)).as("neg"),
        sum(when($"id".isNull, 1L).otherwise(0L)).as("nullid"))
        .select(expr("stack(2, 'v_nonnegative', neg, 'id_not_null', nullid)" +
          " AS (rule, n_violations)"))
    // clean batch: publishes, main gains the rows, audit all-zero
    val br1 = java.nio.file.Files.createTempDirectory("wap1").toString + "/b"
    val (ok1, rep1) = graft.pipeline.Wap.writeAuditPublish(
      t, Seq((3L, 30L)).toDF("id", "v"), br1, audit)
    assert(ok1 && rep1.forall(_._2 == 0L))
    assert(t.read().collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    val vAfterClean = t.currentVersion.get
    // dirty batch: rejected, main version and contents unchanged,
    // the staging branch retains the batch for inspection
    val br2 = java.nio.file.Files.createTempDirectory("wap2").toString + "/b"
    val (ok2, rep2) = graft.pipeline.Wap.writeAuditPublish(
      t, Seq((4L, -5L)).toDF("id", "v"), br2, audit)
    assert(!ok2)
    assert(rep2.toMap.apply("v_nonnegative") == 1L)
    assert(t.currentVersion.contains(vAfterClean), "main must not advance")
    assert(t.read().collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    val staged = new ManifestTable(spark, br2).read()
    assert(staged.filter($"id" === 4L).count() == 1L,
      "staging branch must retain the dirty batch for inspection")
  }

  test("rollback: restores data + dvs as a FORWARD commit, drops batch markers, refuses past vacuum") {
    import spark.implicits._
    val t = freshTable()
    t.write((1L to 100L).map(i => (i, i % 10)).toDF("id", "m"),
      statCols = Seq("id"))
    val v2 = t.deleteWhereMor(Seq(("id", 40.0, 60.0)), "id")
    t.append((101L to 120L).map(i => (i, i % 10)).toDF("id", "m"),
      batchId = Some(7L))
    val v3 = t.currentVersion.get
    // restore to the MoR-delete state: the append vanishes from the
    // live view, the delete file still applies
    val v4 = t.rollbackTo(v2)
    assert(v4 > v3, "rollback must commit forward")
    assert(t.read().select($"id").collect().map(_.getLong(0)).toSet ==
      ((1L to 39L) ++ (61L to 100L)).toSet, "dv must travel with the rollback")
    // the past is intact: v3 still time-travels with its append
    assert(t.readVersion(v3).count() == 100 - 21 + 20)
    // restoring the batch-marked version must NOT re-claim batch 7
    val v5 = t.rollbackTo(v3)
    val hist = t.history.map(h => h.version -> h).toMap
    assert(hist(v3).batchId.contains(7L) && hist(v5).batchId.isEmpty,
      s"batch marker leaked into the rollback commit: ${hist(v5)}")
    assert(t.read().count() == 100 - 21 + 20)
    // rolling back to the live version is a no-op
    assert(t.rollbackTo(v5) == v5 && t.currentVersion.contains(v5))
    // a vacuumed-away version refuses with a clear error
    val t2 = freshTable()
    t2.write(Seq((1L, 1L)).toDF("id", "m"))
    t2.write(Seq((2L, 2L)).toDF("id", "m")) // full rewrite, v1 orphaned
    t2.vacuum(keep = 1)
    intercept[java.io.FileNotFoundException] { t2.rollbackTo(1L) }
  }

}
