package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only randomized fuzz for the Iceberg-format read interop
  * ([[graft.catalog.IcebergInterop]]): per scenario, fabricate a random
  * spec-conformant Iceberg tree — random column set, random cumulative
  * snapshots of parquet files, per-file bounds that are randomly EXACT,
  * WIDENED (Iceberg truncation is conservative), or ABSENT — register
  * it, and verify against a driver-side model: full reads, snapshot-id
  * time travel, and bounds-pruned range reads must all equal the model
  * regardless of which bounds variant each file drew (bounds may only
  * PRUNE, never change results). Random commits also draw POSITIONAL
  * deletes (coordinate-addressed) and — in v2 scenarios — EQUALITY
  * deletes keyed on id, whose strictly-smaller sequence-number scoping
  * (same-commit files exempt, carried entries with explicit original
  * seqs) the model replays independently, and random TAG refs arrive,
  * re-point, and drop — the mirrored tag set must track the source
  * exactly — and half the clean v2 scenarios grow a foreign BRANCH
  * forking at the imported head, whose mirror must read fork + branch
  * rows through FOR VERSION AS OF 'dev'. Then one refresh cycle: more
  * foreign snapshots sync in and re-verify; a random local commit must
  * make the next sync refuse. Usage: runMain graft.DevFuzzIceberg [n] [seed]
  */
object DevFuzzIceberg {
  def main(args: Array[String]): Unit =
    HarnessSession.fuzzMain(args, n = 8, seed = 42L)(run)

  def run(spark: SparkSession, n: Int, seed: Long): Unit = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val rnd = new scala.util.Random(seed)

    import graft.catalog.IcebergFixture._

    (0 until n).foreach { i =>
      val loc = new Path(
        java.nio.file.Files.createTempDirectory(f"graft-icefuzz-$i%03d").toString)
      val wh = java.nio.file.Files.createTempDirectory(f"graft-icefuzz-wh-$i%03d").toString

      // a quarter of the scenarios declare `name` as Iceberg UUID —
      // mapped to StringType (canonical renders, the reference's own
      // varchar-GUID convention); its Appendix-D bounds are 16
      // big-endian bytes, not UTF-8 (round-12 verdict #3). Canonical
      // lowercase hex is order-preserving, so the model's string
      // min/max agree with the byte-order bounds.
      val uuidName = rnd.nextInt(4) == 0
      // model: rows per file; files accumulate across snapshots
      var nextId = 0L
      def mkRows(k: Int): Seq[(Long, String, Double)] =
        (0 until k).map { _ =>
          nextId += 1
          (nextId,
            if (uuidName) new java.util.UUID(rnd.nextLong(), nextId).toString
            else s"v${rnd.nextInt(100)}%02d-${('a' + rnd.nextInt(26)).toChar}",
            rnd.nextInt(1000) / 10.0)
        }

      // id stamping: ALL files (real Iceberg writers), NONE — the
      // migrate/add_files shape, registration falls back to name
      // resolution — or MIXED: an id-less tree a new id-stamping
      // writer now appends to (round-12 verdict #8). Mixed trees must
      // read correct values or fail LOUD (at register via the footer
      // sample, or at read via the missing-field-id error), never
      // silently NULL.
      val idMode = rnd.nextInt(6) match {
        case 0 | 1 => "none"
        case 2     => "mixed"
        case _     => "all"
      }
      val idLess = idMode == "none"
      // ... and an independent third declare an IDENTITY partition spec
      // on `score` (constant per file, carried in the manifest partition
      // struct): the imported exact bounds must prune without ever
      // changing results
      val partitioned = rnd.nextInt(3) == 0
      var fileNo = 0
      def writeFile(rows: Seq[(Long, String, Double)]): FileRef = {
        val partValue = (fileNo + 1).toDouble // matches the rows' score
        fileNo += 1
        val target = new Path(loc, f"data/f$fileNo%03d.parquet")
        // field ids stamped like a real writer's files (per idMode)
        val stamp = idMode match {
          case "all" => true
          case "none" => false
          case _ => rnd.nextBoolean()
        }
        val df0 = rows.toDF("id", "name", "score")
        val df = if (!stamp) df0
          else withFieldIds(df0, Map("id" -> 1, "name" -> 2, "score" -> 3))
        val len = writeOneParquet(conf, df, target)
        def nameBound(v: String): Array[Byte] =
          if (!uuidName) encodeString(v)
          else {
            val u = java.util.UUID.fromString(v)
            java.nio.ByteBuffer.allocate(16)
              .putLong(u.getMostSignificantBits)
              .putLong(u.getLeastSignificantBits).array()
          }
        // bounds variant: exact / widened / absent — all must read the same
        val idLo = rows.map(_._1).min
        val idHi = rows.map(_._1).max
        val stats: Map[Int, (Array[Byte], Array[Byte], Long)] =
          rnd.nextInt(3) match {
            case 0 => Map(1 -> (encodeLong(idLo), encodeLong(idHi), 0L),
              2 -> (nameBound(rows.map(_._2).min),
                nameBound(rows.map(_._2).max), 0L),
              3 -> (encodeDouble(rows.map(_._3).min),
                encodeDouble(rows.map(_._3).max), 0L))
            case 1 => Map(1 -> (encodeLong(idLo - rnd.nextInt(5)),
              encodeLong(idHi + rnd.nextInt(5)), 0L))
            case 2 => Map.empty
          }
        FileRef(target.toUri.toString, rows.size.toLong, len, stats,
          partition = if (partitioned) Seq("p_score" -> partValue) else Nil)
      }

      val nameType = if (uuidName) "uuid" else "string"
      val fields = Seq((1, "id", "long"), (2, "name", nameType),
        (3, "score", "double"))
      var ts = 1700000000000L
      var snapId = 8000L
      val fileRows = scala.collection.mutable.Map.empty[String, Seq[(Long, String, Double)]]
      // positional-delete model: delete file path -> the (data path,
      // pos) coordinates it shadows; deletes carry forward cumulatively
      // like data files
      val delRows = scala.collection.mutable.Map.empty[String, Seq[(String, Long)]]
      var delNo = 0
      // equality-delete model (v2 scenarios only): delete path -> (key
      // ids it names, its data sequence number). A row in data file f
      // is shadowed when its id is keyed by a live delete d with
      // seq(f) < seq(d) — the spec's strictly-smaller rule. Sequence =
      // the 1-based snapshot position (the fixture default); carried
      // manifest entries write their ORIGINAL seq explicitly, like a
      // real writer's EXISTING entries
      val eqKeys = scala.collection.mutable.Map.empty[String, Set[Long]]
      val eqSeq = scala.collection.mutable.Map.empty[String, Long]
      val fileSeq = scala.collection.mutable.Map.empty[String, Long]
      var eqNo = 0
      val useV2 = rnd.nextBoolean()
      var seqNo = 0L
      var tree = Seq.empty[SnapRef]
      def addSnapshot(): Unit = {
        // identity partitioning requires ONE partition value per file —
        // partitioned scenarios pin each file's score to its file number
        val rows0 = mkRows(1 + rnd.nextInt(5))
        val rows =
          if (partitioned) rows0.map(r => r.copy(_3 = (fileNo + 1).toDouble))
          else rows0
        val fr = writeFile(rows)
        fileRows(fr.path) = rows
        seqNo += 1L // GLOBAL sequence: branch snapshots take seqs too
        val thisSeq = seqNo
        fileSeq(fr.path) = thisSeq
        ts += 1000L + rnd.nextInt(1000)
        snapId += 1L + rnd.nextInt(3)
        // carried data files ride as EXISTING entries with their
        // original data sequence number made explicit
        val files = tree.lastOption.map(_.files).getOrElse(Nil)
          .map(f => f.copy(status = 0, dataSeq = Some(fileSeq(f.path)))) :+ fr
        val carried = tree.lastOption.map(_.deletes).getOrElse(Nil)
        // a third of the commits also DELETE 1-2 live coordinates via a
        // new positional-delete file (spec §Position Delete Files)
        val dels =
          if (tree.isEmpty || rnd.nextInt(3) != 0) carried
          else {
            val shadowed = carried.flatMap(d => delRows(d.path)).toSet
            val live = tree.last.files.flatMap(f =>
              fileRows(f.path).indices.map(i => (f.path, i.toLong)))
              .filterNot(shadowed)
            if (live.isEmpty) carried
            else {
              val pick = rnd.shuffle(live).take(1 + rnd.nextInt(2))
              delNo += 1
              val target = new Path(loc, f"data/d$delNo%03d.parquet")
              val len = writeOneParquet(conf,
                pick.toDF("file_path", "pos"), target)
              delRows(target.toUri.toString) = pick
              carried :+ FileRef(target.toUri.toString, pick.size.toLong, len, Map.empty)
            }
          }
        // v2 scenarios: a third of follow-on commits also EQUALITY-delete
        // 1-2 ids (keyed on field 1, spec §Equality Delete Files) —
        // targets drawn from any file, INCLUDING this commit's own (whose
        // rows must stay: same-commit files are exempt by the
        // strictly-smaller sequence rule)
        val carriedEq = tree.lastOption.map(_.eqDeletes).getOrElse(Nil)
          .map(d => d.copy(status = 0, dataSeq = Some(eqSeq(d.path))))
        val eqs =
          if (!useV2 || tree.isEmpty || rnd.nextInt(3) != 0) carriedEq
          else {
            val candidates = files.flatMap(f => fileRows(f.path)).map(_._1)
            val pick = rnd.shuffle(candidates).take(1 + rnd.nextInt(2)).toSet
            eqNo += 1
            val target = new Path(loc, f"data/e$eqNo%03d.parquet")
            val df0 = pick.toSeq.toDF("id")
            val df = if (idLess) df0 else withFieldIds(df0, Map("id" -> 1))
            val len = writeOneParquet(conf, df, target)
            eqKeys(target.toUri.toString) = pick
            eqSeq(target.toUri.toString) = thisSeq
            carriedEq :+ FileRef(target.toUri.toString, pick.size.toLong, len,
              Map.empty, eqIds = Seq(1))
          }
        // seq AND parent EXPLICIT: expiry trims the list without
        // shifting seqs, and mixed main+branch trees must not fall back
        // to the fixture's linear parent chaining
        tree = tree :+ SnapRef(snapId, ts, files, dels, eqDeletes = eqs,
          seq = Some(thisSeq),
          parentId = tree.lastOption.map(_.id))
      }
      (0 until 1 + rnd.nextInt(3)).foreach(_ => addSnapshot())
      // a third of the scenarios register against a metadata tree whose
      // list carries a STAGED (WAP) snapshot past the current head: the
      // registration must import the MAIN LINE only — the staged rows
      // must be invisible and its id must not time-travel
      val specFields =
        if (partitioned) Seq(("p_score", "identity", 3)) else Nil
      val partAvroTypes =
        if (partitioned) Seq(("p_score", "double")) else Nil
      // random TAGS over the tree: each pins a random snapshot; the
      // model tracks name -> snapshot id and the check verifies the
      // tag ref reads that snapshot's state
      var tagModel = Map.empty[String, Long]
      def drawTags(): Unit = {
        if (tree.size > 1 && rnd.nextInt(2) == 0)
          tagModel += (s"tg${tagModel.size}" ->
            tree(rnd.nextInt(tree.size)).id)
        // a third of later draws also re-point or drop an existing tag
        if (tagModel.nonEmpty && rnd.nextInt(3) == 0) {
          val name = tagModel.keys.toSeq(rnd.nextInt(tagModel.size))
          if (rnd.nextBoolean())
            tagModel += (name -> tree(rnd.nextInt(tree.size)).id)
          else tagModel -= name
        }
      }
      drawTags()
      val staged = rnd.nextInt(3) == 0
      if (staged) {
        val mainTree = tree
        addSnapshot() // becomes the staged tip in `tree`
        val stagedTip = tree.last
        writeTreeWithCurrent(conf, loc, fields, tree, mainTree.last.id,
          specFields = specFields, partAvroTypes = partAvroTypes,
          tagRefs = tagModel)
        tree = mainTree // the model ignores the staged snapshot
        fileRows.remove(stagedTip.files.last.path)
      } else
        writeTree(conf, loc, if (useV2) 2 else 1, fields, tree,
          specFields = specFields, partAvroTypes = partAvroTypes,
          tagRefs = tagModel)

      val e = new GraftEngine(spark, wh)
      e.catalog.createSchema("lake")
      // mixed-id trees honor loud-or-correct: register may refuse (the
      // footer sample catches an id-less file with alien names), a read
      // may fail with the missing-field-id error (id-mode over an
      // id-less file) — but a completed read must equal the model.
      // Everything from register on runs under that contract.
      def runScenario(): Unit = {
      e.executeNonQuery(graft.params.SqlStatement(
        s"CALL system.register_iceberg_table('lake', 't', '${loc.toUri}')"))

      def expect(snap: SnapRef): Set[(Long, String, Double)] = {
        val shadowed = snap.deletes.flatMap(d => delRows(d.path)).toSet
        snap.files.flatMap { f =>
          val fSeq = fileSeq(f.path)
          fileRows(f.path).zipWithIndex.collect {
            case (r, idx) if !shadowed((f.path, idx.toLong)) &&
              !snap.eqDeletes.exists(d =>
                eqKeys(d.path)(r._1) && fSeq < eqSeq(d.path)) => r
          }
        }.toSet
      }
      def check(tag: String, nameCol: String = "name"): Unit = {
        val got = e.query(graft.params.SqlStatement(
          s"SELECT id, $nameCol, score FROM lake.t"))
          .as[(Long, String, Double)].collect().toSet
        require(got == expect(tree.last), s"scenario_$i $tag: current read diverged")
        tree.foreach { s =>
          // pre-rename snapshots pin the OLD column name — travel reads
          // project the rename-stable columns only
          val g = e.query(graft.params.SqlStatement(
            s"SELECT id, score FROM lake.t FOR VERSION AS OF ${s.id}"))
            .as[(Long, Double)].collect().toSet
          require(g == expect(s).map(r => (r._1, r._3)),
            s"scenario_$i $tag: travel to ${s.id} diverged")
        }
        // bounds-pruned range read vs the model (prune-only contract)
        val cut = 1L + rnd.nextLong(math.max(1L, nextId))
        val g2 = e.query(graft.params.SqlStatement(
          s"SELECT id FROM lake.t WHERE id >= $cut")).as[Long].collect().toSet
        require(g2 == expect(tree.last).map(_._1).filter(_ >= cut),
          s"scenario_$i $tag: range read @$cut diverged")
        if (partitioned) {
          // partition-value equality: the imported EXACT bounds prune to
          // one file — results must still match the model
          val sv = 1.0 + rnd.nextInt(fileNo max 1)
          val g3 = e.query(graft.params.SqlStatement(
            s"SELECT id FROM lake.t WHERE score = $sv")).as[Long].collect().toSet
          require(g3 == expect(tree.last).filter(_._3 == sv).map(_._1),
            s"scenario_$i $tag: partition-equality read @$sv diverged")
        }
      }
      def tagCheck(tag: String): Unit = tagModel.foreach { case (name, sid) =>
        val got = e.query(graft.params.SqlStatement(
          s"SELECT id, score FROM lake.t FOR VERSION AS OF '$name'"))
          .as[(Long, Double)].collect().toSet
        val want = expect(tree.find(_.id == sid).get).map(r => (r._1, r._3))
        require(got == want, s"scenario_$i $tag: tag '$name' @$sid diverged")
      }
      check("registered")
      tagCheck("registered")

      // foreign writer commits more; sync and re-verify. Half the
      // scenarios also EVOLVE the foreign schema (a new column the old
      // files read NULL for), and half of the id-carrying ones RENAME
      // `name` → `label` — field-id resolution must keep reading the
      // old-name files' VALUES under the new name
      val evolved = rnd.nextBoolean()
      val renamed = idMode == "all" && rnd.nextBoolean()
      val fieldsBase =
        if (renamed) Seq((1, "id", "long"), (2, "label", nameType),
          (3, "score", "double"))
        else fields
      val fields2 =
        if (evolved) fieldsBase :+ ((4, "tag", "long")) else fieldsBase
      val importedCount = tree.size
      // half the clean v2 scenarios grow a foreign BRANCH 'dev' forking
      // at the currently-imported head: 1-2 off-main snapshots adding
      // plain data files (no deletes — the fork is gated clean). The
      // mirror must make FOR VERSION AS OF 'dev' read fork + branch rows
      val branchable = useV2 && rnd.nextInt(2) == 0 &&
        tree.last.deletes.isEmpty && tree.last.eqDeletes.isEmpty
      var branchSnaps = Seq.empty[SnapRef]
      val forkRef = tree.last
      var branchRowSets = Seq.empty[Seq[(Long, String, Double)]]
      if (branchable) {
        var parent = forkRef.id
        var bid = 7000L
        (0 until 1 + rnd.nextInt(2)).foreach { _ =>
          val rows0 = mkRows(1 + rnd.nextInt(3))
          val rows =
            if (partitioned) rows0.map(r => r.copy(_3 = (fileNo + 1).toDouble))
            else rows0
          val fr = writeFile(rows)
          fileRows(fr.path) = rows
          branchRowSets = branchRowSets :+ rows
          seqNo += 1L
          fileSeq(fr.path) = seqNo
          ts += 1000L
          bid += 1L
          val files = branchSnaps.lastOption.map(_.files)
            .getOrElse(forkRef.files)
            .map(f => f.copy(status = 0, dataSeq = Some(fileSeq(f.path)))) :+ fr
          branchSnaps = branchSnaps :+ SnapRef(bid, ts, files,
            seq = Some(seqNo), parentId = Some(parent))
          parent = bid
        }
      }
      (0 until 1 + rnd.nextInt(2)).foreach(_ => addSnapshot())
      // a third of the scenarios also EXPIRE old snapshots foreign-side
      // before the sync (expire_snapshots trims oldest-first, keeping
      // the imported head): carried equality deletes must stay scoped
      // to the now-expired boundaries via the recorded seqs, and the
      // expired ids must still time-travel from the graft log
      val expired =
        if (importedCount > 1 && rnd.nextInt(3) == 0)
          rnd.nextInt(importedCount) // drop this many oldest
        else 0
      drawTags() // tags may arrive, re-point, or drop between syncs
      // a branch fork must stay imported: cap the expiry short of it
      val expireN =
        if (branchable) math.min(expired, importedCount - 1) else expired
      // current stays the MAIN head — branch snapshots ride the list
      // with their own parent chain and a 'dev' ref
      writeTreeWithCurrent(conf, loc, fields2,
        tree.drop(expireN) ++ branchSnaps, tree.last.id,
        specFields = specFields, partAvroTypes = partAvroTypes,
        tagRefs = tagModel,
        branchRefs = branchSnaps.lastOption.map("dev" -> _.id).toMap)
      val synced = e.executeNonQuery(graft.params.SqlStatement(
        "CALL system.refresh_iceberg_table('lake', 't')"))
      require(synced >= 1L, s"scenario_$i: sync appended nothing")
      check("synced", if (renamed) "label" else "name")
      tagCheck("synced")
      // the dropped-tag halves of the model must be GONE, not stale
      require(e.catalog.listTags("lake", "t").keySet == tagModel.keySet,
        s"scenario_$i: mirrored tag set diverged from the source refs")
      if (branchable) {
        // the mirrored branch reads fork state + its own rows, and the
        // fork-point travel still works inside the branch log
        val got = e.query(graft.params.SqlStatement(
          "SELECT id, score FROM lake.t FOR VERSION AS OF 'dev'"))
          .as[(Long, Double)].collect().toSet
        val want = (expect(forkRef) ++ branchRowSets.flatten)
          .map(r => (r._1, r._3)).toSet
        require(got == want, s"scenario_$i: branch 'dev' read diverged")
        require(e.catalog.listBranches("lake", "t").contains("dev"),
          s"scenario_$i: branch 'dev' did not mirror")
      }
      if (renamed) {
        // every pre-rename row's renamed column must carry its VALUE
        val nulls = e.query(graft.params.SqlStatement(
          "SELECT count(*) AS n FROM lake.t WHERE label IS NULL"))
          .collect()(0).getLong(0)
        require(nulls == 0L,
          s"scenario_$i: rename leg read NULLs — field-id resolution broken")
      }
      if (evolved) {
        val tagNulls = e.query(graft.params.SqlStatement(
          "SELECT count(*) AS n FROM lake.t WHERE tag IS NULL"))
          .collect()(0).getLong(0)
        require(tagNulls == expect(tree.last).size,
          s"scenario_$i: evolved column must read NULL on pre-evolution files")
      }

      // export round-trip: the attachment exports to a fresh
      // spec-conformant tree — pending positional/equality deletes
      // re-emit as content-1/content-2 files with explicit data
      // sequence numbers — and registers back identically, snapshot
      // ids preserved
      {
        val exp = new Path(java.nio.file.Files
          .createTempDirectory(f"graft-icefuzz-exp-$i%03d").toString + "/tree")
        e.executeNonQuery(graft.params.SqlStatement(
          s"CALL system.export_iceberg_table('lake', 't', '${exp.toUri}')"))
        e.executeNonQuery(graft.params.SqlStatement(
          s"CALL system.register_iceberg_table('lake', 'rt', '${exp.toUri}')"))
        val a = e.query(graft.params.SqlStatement(
          "SELECT id, score FROM lake.t")).as[(Long, Double)].collect().toSet
        val bb = e.query(graft.params.SqlStatement(
          "SELECT id, score FROM lake.rt")).as[(Long, Double)].collect().toSet
        require(a == bb, s"scenario_$i: export round trip diverged")
        require(e.catalog.snapshots("lake", "rt").map(_.snapshotId) ==
          e.catalog.snapshots("lake", "t").map(_.snapshotId),
          s"scenario_$i: export did not preserve snapshot ids")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(exp.getParent.toString))
      }

      // a local commit diverges: the next sync must refuse. Half the
      // diverging commits are EXECUTE optimize — folding the IMPORTED
      // row-level deletes back to plain data files must preserve content
      // exactly (same model check as the reads above)
      if (rnd.nextBoolean()) {
        if (rnd.nextBoolean()) {
          e.executeNonQuery(graft.params.SqlStatement(
            "ALTER TABLE lake.t EXECUTE optimize"))
          val got = e.query(graft.params.SqlStatement(
            "SELECT id, score FROM lake.t")).as[(Long, Double)].collect().toSet
          require(got == expect(tree.last).map(r => (r._1, r._3)),
            s"scenario_$i: optimize changed an attached table's content")
        } else e.executeNonQuery(graft.params.SqlStatement(
          if (evolved) "INSERT INTO lake.t VALUES (999999, 'local', 0.0, 1)"
          else "INSERT INTO lake.t VALUES (999999, 'local', 0.0)"))
        addSnapshot()
        writeTree(conf, loc, 2, fields, tree.drop(expired),
          specFields = specFields, partAvroTypes = partAvroTypes)
        val refused =
          try { e.executeNonQuery(graft.params.SqlStatement(
            "CALL system.refresh_iceberg_table('lake', 't')")); false }
          catch { case ex: GraftQueryException =>
            ex.getMessage.contains("diverged") ||
              Option(ex.getCause).exists(_.getMessage.contains("diverged")) }
        require(refused, s"scenario_$i: diverged sync did not refuse")
      }
      }
      def loudFieldIdFailure(ex: Throwable): Boolean = {
        val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
          .toLowerCase(java.util.Locale.ROOT)
        msgs.contains("field id") || msgs.contains("field_id")
      }
      try runScenario() catch {
        case ex: Exception if idMode == "mixed" && loudFieldIdFailure(ex) =>
          println(s"[icefuzz] scenario_$i: mixed-id tree refused/failed " +
            "LOUD (contract ok)")
      }

      CacheHygiene.sweep(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc.toString))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
      println(s"[icefuzz] scenario_$i: ${tree.size} snapshots OK")
    }
    println(s"[icefuzz] $n/$n iceberg-interop scenarios OK (seed=$seed)")
  }
}
