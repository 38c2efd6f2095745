package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.apply.CdcApplier
import graft.gen.ChangeLogGen
import graft.lake.LakeTable

/** Small-file compaction: table state invariant, file count shrinks,
  * history (pre-compaction snapshots) still readable. */
class CompactionSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("compact merges small files without changing table state") {
    val lake = new LakeTable(TestSpark.tmpDir("lakecompact"), spark)
    val applier = new CdcApplier(lake, spark)
    // four batches over DISJOINT repo groups (own offsets namespace per
    // group) → four+ separate data files accumulate, none rewritten
    val ev = ChangeLogGen.events(spark, 2000, 13L)
      .filter(lower($"source") === "app.change.log")
      // contiguous repo ranges per group so manifest pruning retains
      // other groups' files (hash-grouping would interleave key ranges)
      .withColumn("grp", (substring($"repo", 6, 4).cast("int") / 25).cast("long"))
      .withColumn("part", concat($"grp", lit("-"), $"part"))
      .select($"grp", $"op", $"part", $"repo", $"path", $"commit", $"lang",
        $"content", $"seq")
    (0 until 4).foreach { b =>
      applier.applyBatch(ev.filter($"grp" === b).drop("grp"), s"c-$b")
    }
    assert(lake.currentSnapshot.get.files.size >= 2)
    val before = lake.read().select($"repo", $"path", $"commit", sha2($"content", 256))
      .collect().map(_.toSeq).toSet
    val filesBefore = lake.currentSnapshot.get.files.size
    val vPre = lake.currentVersion.get

    val committed = lake.compact(minRows = Long.MaxValue) // everything is "small"
    assert(committed.nonEmpty)
    val after = lake.read().select($"repo", $"path", $"commit", sha2($"content", 256))
      .collect().map(_.toSeq).toSet
    assert(after == before)
    assert(lake.currentSnapshot.get.files.size < filesBefore)
    // pre-compaction snapshot still time-travel readable:
    assert(lake.read(Some(vPre)).count() == before.size)
    // offsets unchanged — compaction never moves the resume point:
    assert(lake.committedOffsets == lake.snapshot(vPre).offsets)
  }

  /** A range-clustered write: several files whose per-file REPO ranges
    * are pairwise disjoint up to the boundary repo (a repo may straddle
    * a range boundary, split on path; the composite minKey/maxKey stats
    * are per-column bounds and thus conservative). */
  private def assertRangeClustered(what: String, files: Seq[LakeTable#FileEntry]): Unit = {
    assert(files.size > 1, s"$what: expected a multi-file write, got ${files.size}")
    files.sortBy(_.minRepo).sliding(2).foreach {
      case Seq(a, b) => assert(a.maxRepo <= b.minRepo,
        s"$what: overlapping repo ranges: ${a.maxRepo} > ${b.minRepo}")
      case _ => ()
    }
  }

  test("whole-table compact is a parallel multi-file rewrite with disjoint key ranges") {
    val lake = new LakeTable(TestSpark.tmpDir("lakecompactmulti"), spark)
    val applier = new CdcApplier(lake, spark)
    val ev = ChangeLogGen.events(spark, 2000, 29L)
      .filter(lower($"source") === "app.change.log")
      .withColumn("grp", (substring($"repo", 6, 4).cast("int") / 25).cast("long"))
      .withColumn("part", concat($"grp", lit("-"), $"part"))
      .select($"grp", $"op", $"part", $"repo", $"path", $"commit", $"lang",
        $"content", $"seq")
    (0 until 4).foreach { b =>
      applier.applyBatch(ev.filter($"grp" === b).drop("grp"), s"m-$b")
    }
    val before = lake.read().select($"repo", $"path", sha2($"content", 256))
      .collect().map(_.toSeq).toSet
    // pinned partition count stands in for AQE's byte-target sizing (the
    // default), which would coalesce this tiny table to one partition —
    // the assertion is about the PLAN SHAPE: a whole-table compact must
    // be able to write many files, never a forced one-task funnel
    assert(lake.compact(minRows = Long.MaxValue, shufflePartitions = 3).nonEmpty)
    assertRangeClustered("whole-table compact", lake.currentSnapshot.get.files)
    val after = lake.read().select($"repo", $"path", sha2($"content", 256))
      .collect().map(_.toSeq).toSet
    assert(after == before)
  }

  test("major compaction is targeted: only delete-overlapping files are rewritten") {
    val lake = new LakeTable(TestSpark.tmpDir("lakemortgt"), spark)
    val morApp = new CdcApplier(lake, spark, mergeOnRead = true)
    // four disjoint repo ranges (tg-g0-*, …, tg-g3-*), one batch each
    def group(g: Int) = (0 until 200).map { i =>
      ("UPDATE", g.toString, f"tg-g$g-r${i % 20}%02d", s"p${i % 10}",
        s"c$g-$i", "scala", s"body-$g-$i", (g * 1000 + i).toLong)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    (0 until 4).foreach(g => morApp.applyBatch(group(g), s"t-$g"))
    // sparse MoR update confined to group 0 → its delete file's
    // [minRepo, maxRepo] stays inside the tg-g0 range
    val upd = (0 until 5).map { i =>
      ("UPDATE", "upd", f"tg-g0-r${(i * 3) % 20}%02d", s"p${(i * 3) % 10}",
        s"cu$i", "scala", s"new-$i", (10000 + i).toLong)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    morApp.applyBatch(upd, "t-upd")
    val snap = lake.currentSnapshot.get
    assert(snap.deleteFiles.nonEmpty)
    assert(snap.deleteFiles.forall(d =>
      d.minRepo.startsWith("tg-g0") && d.maxRepo.startsWith("tg-g0")))
    val before = lake.read().select($"repo", $"path", $"commit", $"content")
      .collect().map(_.toSeq).toSet
    val keepExpected = snap.dataFiles.filter(f =>
      !f.minRepo.startsWith("tg-g0")).map(_.path).toSet
    assert(keepExpected.nonEmpty)

    // minRows = 0: nothing is "small" — only the delete-overlap rule
    // picks rewrite targets
    assert(lake.compact(minRows = 0).nonEmpty)
    val after = lake.currentSnapshot.get
    assert(after.deleteFiles.isEmpty, "all delete files must be folded")
    val afterPaths = after.dataFiles.map(_.path).toSet
    assert(keepExpected.subsetOf(afterPaths),
      "files outside the delete ranges must survive compaction UNREWRITTEN")
    assert(snap.dataFiles.filter(_.minRepo.startsWith("tg-g0"))
      .forall(f => !afterPaths.contains(f.path)),
      "files inside the delete range must be rewritten")
    val afterState = lake.read().select($"repo", $"path", $"commit", $"content")
      .collect().map(_.toSeq).toSet
    assert(afterState == before)
  }

  test("delete-file consolidation (minor compaction): per-key max, no data file touched") {
    val lake = new LakeTable(TestSpark.tmpDir("lakedelcons"), spark)
    val morApp = new CdcApplier(lake, spark, mergeOnRead = true)
    def batch(tag: String, seq0: Long, keys: Seq[Int]) = keys.map { k =>
      ("UPDATE", "p0", f"dc-r$k%02d", s"p$k", s"c-$tag-$k", "scala",
        s"body-$tag-$k", seq0 + k)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    morApp.applyBatch(batch("seed", 0, 0 until 20), "d-0")
    // three update drizzles with OVERLAPPING keys: key 3 is superseded
    // three times, so the per-key MAX (not any single file's entry) must
    // decide liveness after consolidation
    morApp.applyBatch(batch("u1", 1000, Seq(1, 3, 5)), "d-1")
    morApp.applyBatch(batch("u2", 2000, Seq(3, 7)), "d-2")
    morApp.applyBatch(batch("u3", 3000, Seq(3, 9, 11)), "d-3")
    val snap = lake.currentSnapshot.get
    assert(snap.deleteFiles.size >= 3)
    val dataPaths = snap.dataFiles.map(_.path).toSet
    val before = lake.read().select($"repo", $"path", $"commit", $"content")
      .collect().map(_.toSeq).toSet

    assert(lake.consolidateDeletes().nonEmpty)
    val after = lake.currentSnapshot.get
    assert(after.deleteFiles.size < snap.deleteFiles.size)
    assert(after.dataFiles.map(_.path).toSet == dataPaths,
      "minor compaction must not touch data files")
    val afterState = lake.read().select($"repo", $"path", $"commit", $"content")
      .collect().map(_.toSeq).toSet
    assert(afterState == before)
    // consolidated delete rows = per-key maxima: one row per superseded
    // key VERSION chain, not per delete entry
    val delRows = after.deleteFiles.map(_.rows).sum
    assert(delRows == 6, s"expected 6 per-key maxima (1,3,5,7,9,11), got $delRows")
    // already consolidated → no-op below the threshold
    assert(lake.consolidateDeletes(minFiles = 2).isEmpty ||
      after.deleteFiles.size >= 2)
    // a later MAJOR compaction still folds everything
    assert(lake.compact(minRows = 0).nonEmpty)
    val finalSnap = lake.currentSnapshot.get
    assert(finalSnap.deleteFiles.isEmpty)
    assert(lake.read().select($"repo", $"path", $"commit", $"content")
      .collect().map(_.toSeq).toSet == before)
  }

  test("one layout policy: at or below spark.graft.smallWriteRows a write is one file, above it range-clustered files") {
    // each write path hands the writer its own output row bound; the
    // threshold is set AT that bound (one file) and one row below it
    // (range path). AQE partition coalescing is off so the range path
    // shows its spark.sql.shuffle.partitions files on this tiny data.
    def underThreshold[T](smallWriteRows: Long)(f: => T): T = {
      spark.conf.set("spark.graft.smallWriteRows", smallWriteRows.toString)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try f finally {
        spark.conf.unset("spark.graft.smallWriteRows")
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      }
    }
    def check(what: String, bound: Long)(write: => Seq[LakeTable#FileEntry]): Unit = {
      val at = underThreshold(bound)(write)
      assert(at.size == 1, s"$what at the threshold: expected one file, got ${at.size}")
      assertRangeClustered(s"$what above the threshold", underThreshold(bound - 1)(write))
    }
    // 800 upserts over 100 keys: the CoW bound is touched base rows (none,
    // fresh table) + upserts
    val wide = (0 until 800).map { i =>
      ("UPDATE", (i % 4).toString, f"lp-${(i * 37) % 100}%03d", s"p${i % 20}",
        s"c$i", "scala", s"content-$i", i.toLong)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    check("CoW apply", 800) {
      val lake = new LakeTable(TestSpark.tmpDir("lpcow"), spark)
      new CdcApplier(lake, spark).applyBatch(wide, "lp-0")
      lake.currentSnapshot.get.files
    }
    // compaction's bound: the rewritten files' manifest row total
    val rows = wide.select($"repo", $"path", $"commit", $"lang", $"content", $"seq")
    check("compact", 800) {
      val lake = new LakeTable(TestSpark.tmpDir("lpcompact"), spark)
      lake.commit("lp-seed", Map.empty, rows.schema, Nil,
        lake.writeDataFiles(rows, "lp-seed", files = 4))
      assert(lake.compact(minRows = Long.MaxValue).nonEmpty)
      lake.currentSnapshot.get.files
    }
    // consolidation's bound: the delete entries' row total — a seed of
    // 40 keys, then three 20-key update batches (every updated key had a
    // base version, so each batch writes 20 delete entries)
    def drizzle(tag: String, seq0: Long, keys: Seq[Int]) = keys.map { k =>
      ("UPDATE", "p0", f"lq-r$k%02d", s"p$k", s"c-$tag-$k", "scala", s"b-$tag-$k", seq0 + k)
    }.toDF("op", "part", "repo", "path", "commit", "lang", "content", "seq")
    check("consolidateDeletes", 60) {
      val lake = new LakeTable(TestSpark.tmpDir("lpdel"), spark)
      val mor = new CdcApplier(lake, spark, mergeOnRead = true)
      mor.applyBatch(drizzle("seed", 0, 0 until 40), "lq-0")
      Seq((1000L, 0 until 20), (2000L, 10 until 30), (3000L, 20 until 40)).foreach {
        case (s0, ks) => mor.applyBatch(drizzle(s"u$s0", s0, ks), s"lq-$s0")
      }
      assert(lake.currentSnapshot.get.deleteFiles.map(_.rows).sum == 60)
      assert(lake.consolidateDeletes().nonEmpty)
      lake.currentSnapshot.get.deleteFiles
    }
    // the append sink knows no bound (Long.MaxValue)
    check("format(graft) append", Long.MaxValue) {
      val root = TestSpark.tmpDir("lpsink")
      rows.write.format("graft").mode("append").save(root)
      new LakeTable(root, spark).currentSnapshot.get.files
    }
  }
}
