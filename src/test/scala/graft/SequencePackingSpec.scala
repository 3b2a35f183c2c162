package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SequencePacking

class SequencePackingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("assignSequences: contiguous id order per group, offsets exact, straddling allowed") {
    val docs = Seq(
      (1L, "a", 600L), (2L, "a", 600L), (3L, "a", 600L), (4L, "a", 600L),
      (5L, "b", 100L), (6L, "b", 2500L)
    ).toDF("id", "grp", "tok")
    val out = SequencePacking.assignSequences(docs, "grp", "id", "tok", budget = 1000)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("start_offset"), r.getAs[Long]("seq_index"))).toMap
    // group a stream: offsets 0,600,1200,1800 -> seqs 0,0,1,1
    assert(out(1L) == (0L, 0L) && out(2L) == (600L, 0L))
    assert(out(3L) == (1200L, 1L) && out(4L) == (1800L, 1L))
    // group b: the 2500-token doc starts at offset 100 -> seq 0 (straddles)
    assert(out(5L) == (0L, 0L) && out(6L) == (100L, 0L))
  }

  test("packGreedy: no bin over budget (except oversize-alone), all docs packed once, deterministic") {
    val docs = (1L to 500L).map(i => (i, (i * 37 % 400) + 50)).toDF("id", "tok")
    val packed = SequencePacking.packGreedy(docs, "id", "tok", budget = 1000).collect()
    assert(packed.length == 500, "every doc packed exactly once")
    val byBin = packed.groupBy(_.getLong(2)).view.mapValues(_.map(_.getLong(1)).sum).toMap
    assert(byBin.values.forall(_ <= 1000), "no bin over budget")

    // oversize doc gets a bin alone
    val over = Seq((1L, 300L), (2L, 5000L), (3L, 300L)).toDF("id", "tok")
    val p2 = SequencePacking.packGreedy(over, "id", "tok", budget = 1000).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(p2(2L) != p2(1L) && p2(2L) != p2(3L))

    // deterministic across runs at fixed partitioning
    val a = SequencePacking.packGreedy(docs, "id", "tok", 1000, partitions = 4).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val b = SequencePacking.packGreedy(docs, "id", "tok", 1000, partitions = 4).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(a == b)
  }

  test("length-bucketed batches pad far less than id-order batches") {
    // bimodal lengths interleaved by id: id-order batches mix short+long
    val rows = (1L to 128L).map(i => (i, if (i % 2 == 0) 1000L else 10L)).toDF("id", "tokens")
    val out = SequencePacking.lengthBucketBatches(rows, "id", "tokens", nBuckets = 2, batchSize = 16)
    def padding(df: org.apache.spark.sql.DataFrame, batchCols: Seq[String]): Long =
      df.groupBy(batchCols.map(col): _*)
        .agg((max("tokens") * count(lit(1)) - sum("tokens")).as("pad"))
        .agg(sum("pad")).head().getLong(0)
    val bucketedPad = padding(out, Seq("bucket", "batch_id"))
    val idOrderPad = padding(
      rows.withColumn("batch_id", expr("(id - 1) div 16")), Seq("batch_id"))
    // perfectly separable lengths -> zero padding; id-order pays ~990/doc
    assert(bucketedPad == 0L, s"bucketed padding $bucketedPad")
    assert(idOrderPad > 50000L, s"id-order padding $idOrderPad")
    // every batch is full (128 docs / 16 exactly)
    val sizes = out.groupBy("bucket", "batch_id").count()
      .select("count").as[Long].collect()
    assert(sizes.forall(_ == 16L))
    // partition-invariant
    val rep = SequencePacking.lengthBucketBatches(rows.repartition(7), "id", "tokens", 2, 16)
      .select("id", "bucket", "batch_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val base = out.select("id", "bucket", "batch_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rep == base)
  }

  test("packSequences: bins == packGreedy, input_ids == per-doc arrays concatenated in pack order") {
    // synthetic per-doc id arrays: doc i carries [i*100+1 .. i*100+tok],
    // so any reorder, drop, or boundary shift is visible in the stream
    val docs = (1L to 60L)
      .map(i => (i, (i * 37 % 17) + 3))
      .map { case (i, tok) => (i, tok, (1L to tok).map(j => i * 100 + j)) }
    val df = docs.toDF("id", "tok", "ids")
    val expectIds = docs.map { case (i, tok, ids) => i -> ids }.toMap

    for (parts <- Seq(1, 4)) {
      val flat = SequencePacking.packGreedy(df, "id", "tok", budget = 40, partitions = parts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val packed = SequencePacking
        .packSequences(df, "id", "tok", "ids", budget = 40, partitions = parts)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getSeq[Long](r.fieldIndex("input_ids")))))
        .toMap
      // bin boundaries bit-identical to packGreedy
      val greedyBins = flat.groupBy(_._3).view
        .mapValues(rs => (rs.length.toLong, rs.map(_._2).sum)).toMap
      assert(packed.view.mapValues { case (n, t, _) => (n, t) }.toMap == greedyBins,
        s"parts=$parts: bin boundaries diverged from packGreedy")
      // the packed stream is exactly the per-doc arrays in pack (id) order
      flat.groupBy(_._3).foreach { case (bin, rs) =>
        val want = rs.map(_._1).sorted.flatMap(expectIds)
        assert(packed(bin)._3 == want.toSeq, s"parts=$parts bin=$bin id stream diverged")
      }
      // strict budget: multi-doc bins never exceed it
      packed.values.foreach { case (n, t, ids) =>
        assert(n == 1L || t <= 40L)
        assert(ids.length == t, "bin_tokens must equal the packed id count here")
      }
    }

    // oversize doc sits alone, its ids intact
    val over = Seq(
      (1L, 3L, Seq(101L, 102L, 103L)),
      (2L, 99L, (1L to 99L).map(_ + 200L)),
      (3L, 3L, Seq(301L, 302L, 303L))).toDF("id", "tok", "ids")
    val oBins = SequencePacking.packSequences(over, "id", "tok", "ids", budget = 10, partitions = 1)
      .collect().map(r => (r.getLong(1), r.getSeq[Long](3)))
    assert(oBins.exists { case (n, ids) => n == 1L && ids.length == 99 },
      oBins.map(_._1).mkString(","))
  }

  private def boundaryDocs = (1L to 60L)
    .map(i => (i, (i * 37 % 17) + 3))
    .map { case (i, tok) => (i, tok, (1L to tok).map(j => i * 100 + j)) }

  test("packSequences: doc_ids/doc_lens tile input_ids exactly, in pack order") {
    val docs = boundaryDocs
    val df = docs.toDF("id", "tok", "ids")
    val expectIds = docs.map { case (i, _, ids) => i -> ids }.toMap
    for (parts <- Seq(1, 4)) {
      val packed = SequencePacking
        .packSequences(df, "id", "tok", "ids", budget = 40, partitions = parts)
        .collect()
      packed.foreach { r =>
        val ids = r.getSeq[Long](r.fieldIndex("input_ids"))
        val dids = r.getSeq[Long](r.fieldIndex("doc_ids"))
        val lens = r.getSeq[Long](r.fieldIndex("doc_lens"))
        assert(dids.length.toLong == r.getAs[Long]("n_docs"))
        assert(lens.sum == ids.length.toLong, "doc_lens must tile input_ids")
        assert(dids == dids.sorted, "pack order is id order")
        // slicing input_ids by the lens reconstructs each document's segment
        var off = 0
        dids.zip(lens).foreach { case (d, l) =>
          assert(ids.slice(off, off + l.toInt) == expectIds(d), s"doc $d segment")
          off += l.toInt
        }
      }
      // every doc lands in exactly one bin
      val allDocs = packed.flatMap(_.getSeq[Long](4)).sorted.toSeq
      assert(allDocs == (1L to 60L), "each doc packed exactly once")
    }
  }

  test("exportShards: partitioned layout, lossless read-back, manifest certifies content") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_spec").toString
    val df = boundaryDocs.toDF("id", "tok", "ids")
    val packed = SequencePacking.packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1)
    val manifest = SequencePacking.exportShards(packed, dir, nShards = 3).collect()
      .map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("n_bins"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"), r.getAs[Long]("digest"))))
      .toMap

    // shard directories exist on disk
    assert(new java.io.File(s"$dir/data/shard=0").isDirectory)

    // read-back is lossless: same bins, same id streams, shard = bin_id % 3
    val expect = packed.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getSeq[Long](3))))
      .toMap
    val back = spark.read.parquet(s"$dir/data").collect()
      .map(r => (r.getAs[Long]("bin_id"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("bin_tokens"),
        r.getSeq[Long](r.fieldIndex("input_ids")),
        r.getAs[Number]("shard").longValue))
    assert(back.length == expect.size)
    back.foreach { case (bin, n, t, ids, shard) =>
      assert(expect(bin) == ((n, t, ids)), s"bin $bin diverged through the export")
      assert(shard == bin % 3, s"bin $bin in wrong shard")
    }

    // manifest totals match an independent recomputation from the files
    val recomputed = back.groupBy(_._5).map { case (shard, rows) =>
      shard -> ((rows.length.toLong, rows.map(_._2).sum, rows.map(_._3).sum))
    }
    assert(manifest.view.mapValues { case (b, d, t, _) => (b, d, t) }.toMap == recomputed)

    // the digest certifies bytes: recompute it over the read-back frame
    import org.apache.spark.sql.functions.{col, sum => sqlSum}
    val redig = spark.read.parquet(s"$dir/data")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(sqlSum(SequencePacking.binDigest).as("digest"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(manifest.view.mapValues(_._4).toMap == redig)
  }

  test("positionIds: 0..len-1 per document, reset at boundaries, tiles input_ids exactly") {
    import org.apache.spark.sql.functions.col
    val df = boundaryDocs.toDF("id", "tok", "ids")
    val rows = SequencePacking.packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1)
      .select(col("input_ids"), col("doc_lens"),
        SequencePacking.positionIds(col("doc_lens")).as("position_ids"))
      .collect()
    rows.foreach { r =>
      val ids = r.getSeq[Long](0); val lens = r.getSeq[Long](1); val pos = r.getSeq[Long](2)
      assert(pos.length == ids.length, "positions must tile input_ids")
      assert(pos == lens.flatMap(l => 0L until l), "positions must reset per document")
    }
    // zero-length segments contribute nothing (the sequence(0,-1) guard)
    val z = Seq((Seq(3L, 0L, 2L), 1)).toDF("doc_lens", "x")
      .select(SequencePacking.positionIds(col("doc_lens"))).head().getSeq[Long](0)
    assert(z == Seq(0L, 1L, 2L, 0L, 1L))
  }

  test("exportShards composes with TrainingOrder: epoch-shuffled loader shards, still certified") {
    import graft.operators.TrainingOrder
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_epoch").toString
    val df = boundaryDocs.toDF("id", "tok", "ids")
    val packed = SequencePacking.packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1)

    // epoch-seeded reproducible shuffle of the BINS, then shard-by-column
    val epoch0 = TrainingOrder.shuffled(packed, "bin_id", "epoch0", nShards = 3).drop("pos")
    SequencePacking.exportShards(epoch0, dir, nShards = 3, shardCol = "shard")

    // the layout follows the shuffle's shard, not bin_id % N
    val want = epoch0.select("bin_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = spark.read.parquet(s"$dir/data").select("bin_id", "shard").collect()
      .map(r => r.getAs[Long]("bin_id") -> r.getAs[Number]("shard").longValue).toMap
    assert(got == want, "export must honor the epoch shuffle's shard assignment")
    assert(got.values.toSet.size == 3)

    // the manifest certifies this layout too (digest is shard-layout-independent)
    assert(SequencePackingSpec.verifyShards(spark, dir).collect().forall(_.getAs[Boolean]("ok")))

    // a different epoch seed yields a different (but reproducible) layout
    val epoch1 = TrainingOrder.shuffled(packed, "bin_id", "epoch1", nShards = 3).drop("pos")
      .select("bin_id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(epoch1 != want, "fixture: distinct epochs should reshuffle the layout")
  }

  test("verifyShards: green on an intact export, names what diverged on a tampered one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_vrfy").toString
    val df = boundaryDocs.toDF("id", "tok", "ids")
    val packed = SequencePacking.packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.exportShards(packed, dir, nShards = 3)

    val clean = SequencePackingSpec.verifyShards(spark, dir).collect()
    assert(clean.length == 3 && clean.forall(_.getAs[Boolean]("ok")), "intact export must verify")

    // tamper: drop one shard's files entirely — files lost, manifest stale
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
    }
    rm(new java.io.File(s"$dir/data/shard=1"))
    val tampered = SequencePackingSpec.verifyShards(spark, dir).collect()
      .map(r => r.getAs[Long]("shard") -> r.getAs[Boolean]("ok")).toMap
    assert(!tampered(1L), "the gutted shard must fail verification")
    assert(tampered(0L) && tampered(2L), "untouched shards must stay green")
  }

  test("retractFromShards: surgical takedown rewrites only affected shards, re-certifies, leaves others byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_rtct").toString
    val df = boundaryDocs.toDF("id", "tok", "ids")
    val packed = SequencePacking.packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.exportShards(packed, dir, nShards = 4)

    // pick one doc and note which shard its bin lives in
    val victim = 17L
    val before = spark.read.parquet(s"$dir/data").collect()
      .map(r => (r.getAs[Long]("bin_id"), r.getSeq[Long](r.fieldIndex("doc_ids")),
        r.getAs[Number]("shard").longValue))
    val victimShards = before.filter(_._2.contains(victim)).map(_._3).toSet
    assert(victimShards.size == 1, "fixture: the victim lives in exactly one bin")
    val untouchedShard = (0L to 3L).find(!victimShards.contains(_)).get
    val untouchedFiles = new java.io.File(s"$dir/data/shard=$untouchedShard")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap

    assert(SequencePacking.retractFromShards(spark, dir, Seq(victim)) == 1L)

    // the victim is gone; every other doc's segment is intact
    val after = spark.read.parquet(s"$dir/data").collect()
    val expectIds = boundaryDocs.map { case (i, _, ids) => i -> ids }.toMap
    assert(!after.exists(_.getSeq[Long](4).contains(victim)), "victim still present")
    after.foreach { r =>
      val ids = r.getSeq[Long](r.fieldIndex("input_ids"))
      val dids = r.getSeq[Long](r.fieldIndex("doc_ids"))
      val lens = r.getSeq[Long](r.fieldIndex("doc_lens"))
      assert(lens.sum == ids.length.toLong)
      assert(r.getAs[Long]("bin_tokens") == lens.sum)
      var off = 0
      dids.zip(lens).foreach { case (d, l) =>
        assert(ids.slice(off, off + l.toInt) == expectIds(d), s"doc $d corrupted by retraction")
        off += l.toInt
      }
    }
    assert(after.flatMap(_.getSeq[Long](4)).sorted.toSeq == (1L to 60L).filterNot(_ == victim),
      "exactly the victim removed, everything else packed once")

    // untouched shards were not rewritten (same files, same mtimes)
    val untouchedAfter = new java.io.File(s"$dir/data/shard=$untouchedShard")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(untouchedAfter == untouchedFiles, "an unaffected shard was rewritten")

    // the spliced manifest re-certifies the whole export
    val verdicts = SequencePackingSpec.verifyShards(spark, dir).collect()
    assert(verdicts.forall(_.getAs[Boolean]("ok")), "manifest must re-certify after retraction")

    // unknown ids: nothing touched, zero returned
    assert(SequencePacking.retractFromShards(spark, dir, Seq(9999L)) == 0L)

    // a stale manifest (the crash-between-swap-and-splice state) fails
    // verification — and a retract re-run CANNOT fix it (the victim is
    // already gone, nothing looks affected)
    val staleRow = spark.read.parquet(s"$dir/manifest")
      .withColumn("digest", col("digest") + 1L)
    val staleTmp = java.nio.file.Files.createTempDirectory("graft_stale_m").toString
    staleRow.write.mode("overwrite").parquet(s"$staleTmp/m")
    def rmAll(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rmAll); f.delete()
    }
    rmAll(new java.io.File(s"$dir/manifest"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$staleTmp/m"),
      java.nio.file.Paths.get(s"$dir/manifest"))
    assert(SequencePackingSpec.verifyShards(spark, dir).collect()
      .exists(!_.getAs[Boolean]("ok")), "fixture: stale manifest must be red")
    assert(SequencePacking.retractFromShards(spark, dir, Seq(victim)) == 0L,
      "a retract re-run must not claim to fix staleness")

    // lens/token accounting mismatch is refused loudly
    val bad = Seq((1L, 10L, Seq(1L, 2L))).toDF("id", "tok", "ids") // tok=10 but 2 ids
    val badDir = java.nio.file.Files.createTempDirectory("graft_shards_bad").toString
    SequencePacking.exportShards(
      SequencePacking.packSequences(bad, "id", "tok", "ids", budget = 40, partitions = 1),
      badDir, nShards = 1)
    val err = intercept[Exception] {
      SequencePacking.retractFromShards(spark, badDir, Seq(1L))
    }
    assert(err.getMessage != null)
  }

  test("packSequences sepId: separator billed against budget, in doc_lens; default is bit-identical") {
    val df = boundaryDocs.toDF("id", "tok", "ids")
    val expectIds = boundaryDocs.map { case (i, _, ids) => i -> ids }.toMap

    // default (no separator) is bit-identical to an explicit None call
    val base = SequencePacking.packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](3)).toMap
    val none = SequencePacking
      .packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1, sepId = None)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](3)).toMap
    assert(base == none)

    val SEP = -7L // any id works; negative so it can never collide with the fixture ids
    val rows = SequencePacking
      .packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1, sepId = Some(SEP))
      .collect()
    rows.foreach { r =>
      val ids = r.getSeq[Long](r.fieldIndex("input_ids"))
      val dids = r.getSeq[Long](r.fieldIndex("doc_ids"))
      val lens = r.getSeq[Long](r.fieldIndex("doc_lens"))
      // the budget counts separators: multi-doc bins stay within it
      assert(dids.length == 1 || r.getAs[Long]("bin_tokens") <= 40L)
      assert(r.getAs[Long]("bin_tokens") == lens.sum, "bin_tokens == sum(doc_lens) with sep")
      assert(lens.sum == ids.length.toLong, "doc_lens tile input_ids with sep")
      // each segment is the doc's ids followed by exactly one separator
      var off = 0
      dids.zip(lens).foreach { case (d, l) =>
        val seg = ids.slice(off, off + l.toInt)
        assert(seg == expectIds(d) :+ SEP, s"doc $d segment must end with the separator")
        off += l.toInt
      }
    }
    assert(rows.flatMap(_.getSeq[Long](4)).sorted.toSeq == (1L to 60L))
    // positionIds needs no special-casing: the separator takes its doc's last position
    import org.apache.spark.sql.functions.col
    val pos = SequencePacking
      .packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1, sepId = Some(SEP))
      .select(col("input_ids"), col("doc_lens"),
        SequencePacking.positionIds(col("doc_lens")).as("p"))
      .collect()
    pos.foreach { r =>
      assert(r.getSeq[Long](2).length == r.getSeq[Long](0).length)
      assert(r.getSeq[Long](2) == r.getSeq[Long](1).flatMap(l => 0L until l))
    }
  }

  test("retractFromShards removes a victim's separator with its segment (sepId store)") {
    val SEP = -7L
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_sep").toString
    val df = boundaryDocs.toDF("id", "tok", "ids")
    val packed = SequencePacking
      .packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1, sepId = Some(SEP))
    SequencePacking.exportShards(packed, dir, nShards = 3)
    val victim = 17L
    assert(SequencePacking.retractFromShards(spark, dir, Seq(victim)) == 1L)
    val expectIds = boundaryDocs.map { case (i, _, ids) => i -> ids }.toMap
    val after = spark.read.parquet(s"$dir/data").collect()
    // separator count == surviving doc count: no orphaned separators
    after.foreach { r =>
      val ids = r.getSeq[Long](r.fieldIndex("input_ids"))
      val dids = r.getSeq[Long](r.fieldIndex("doc_ids"))
      val lens = r.getSeq[Long](r.fieldIndex("doc_lens"))
      assert(ids.count(_ == SEP) == dids.length, "exactly one separator per surviving doc")
      var off = 0
      dids.zip(lens).foreach { case (d, l) =>
        assert(ids.slice(off, off + l.toInt) == expectIds(d) :+ SEP)
        off += l.toInt
      }
    }
    assert(!after.exists(_.getSeq[Long](4).contains(victim)))
    assert(SequencePackingSpec.verifyShards(spark, dir).collect().forall(_.getAs[Boolean]("ok")))
  }

  test("appendShards: incremental refresh == one-shot export of the union; replay appends nothing") {
    val all = boundaryDocs
    val evens = all.filter(_._1 % 2 == 0)
    val odds = all.filter(_._1 % 2 == 1)

    // incremental store: export the evens, append the odds as a batch
    val inc = java.nio.file.Files.createTempDirectory("graft_shards_inc").toString
    val packedE = SequencePacking
      .packSequences(evens.toDF("id", "tok", "ids"), "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.exportShards(packedE, inc, nShards = 4)
    val packedO = SequencePacking
      .packSequences(odds.toDF("id", "tok", "ids"), "id", "tok", "ids", budget = 40, partitions = 1)
    val appended = SequencePacking.appendShards(packedO, inc, batchKey = "run#1")
    assert(appended > 0L)

    // one-shot reference: the evens' bins plus the odds' bins REBASED onto
    // the store's next ids — appendShards' parity contract
    val nE = packedE.agg(org.apache.spark.sql.functions.max("bin_id")).head().getLong(0) + 1L
    val rebasedO = packedO.withColumn("bin_id", col("bin_id") + nE)
    val oneShot = java.nio.file.Files.createTempDirectory("graft_shards_one").toString
    SequencePacking.exportShards(packedE.unionByName(rebasedO), oneShot, nShards = 4)

    def snapshot(d: String) = spark.read.parquet(s"$d/data").collect()
      .map(r => (r.getAs[Long]("bin_id"), r.getAs[Long]("n_docs"), r.getAs[Long]("bin_tokens"),
        r.getSeq[Long](r.fieldIndex("input_ids")), r.getSeq[Long](r.fieldIndex("doc_ids")),
        r.getAs[Number]("shard").longValue)).sortBy(_._1).toSeq
    assert(snapshot(inc) == snapshot(oneShot), "append must equal the one-shot export")
    def manifestOf(d: String) = spark.read.parquet(s"$d/manifest").collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_bins"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("digest"))).sortBy(_._1).toSeq
    assert(manifestOf(inc) == manifestOf(oneShot), "manifests (digests included) must match")
    assert(SequencePackingSpec.verifyShards(spark, inc).collect().forall(_.getAs[Boolean]("ok")))

    // the membership index covers old and new docs alike
    val indexed = spark.read.parquet(s"$inc/docs").collect()
      .map(r => r.getAs[Long]("doc_id")).sorted.toSeq
    assert(indexed == (1L to 60L), "docs index must cover export + append")

    // REPLAY: the same batch key is a committed append — full no-op
    val filesBefore = new java.io.File(s"$inc/data").listFiles().flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty).map(f => f.getPath -> f.lastModified())).toMap
    assert(SequencePacking.appendShards(packedO, inc, batchKey = "run#1") == 0L)
    val filesAfter = new java.io.File(s"$inc/data").listFiles().flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty).map(f => f.getPath -> f.lastModified())).toMap
    assert(filesAfter == filesBefore, "a replayed append must not touch the data")
    assert(snapshot(inc) == snapshot(oneShot))

    // crash window: manifest spliced but the ledger row never landed —
    // rewind the ledger to its pre-append content and replay the batch.
    // The metadata row-count probe must recognize the already-spliced
    // shards and apply NO second delta (the double-add hazard of an
    // additive manifest refresh), then commit the ledger row.
    val metaDir = new java.io.File(s"$inc/meta")
    val savedMeta = java.nio.file.Files.createTempDirectory("graft_meta_save").toString
    val preAppendMeta = spark.read.parquet(metaDir.getPath)
      .where(col("batch_key") === "-").collect()
    spark.read.parquet(metaDir.getPath).where(col("batch_key") === "-")
      .coalesce(1).write.mode("overwrite").parquet(s"$savedMeta/m")
    graft.sources.Catalog.swapIn(metaDir.toPath) { tmp =>
      spark.read.parquet(s"$savedMeta/m").write.mode("overwrite").parquet(tmp.toString)
    }
    assert(preAppendMeta.length == 1)
    assert(SequencePacking.appendShards(packedO, inc, batchKey = "run#1") == 0L,
      "a crash-window replay must append no bins")
    assert(manifestOf(inc) == manifestOf(oneShot),
      "a replay across the manifest-before-ledger crash window must not double-add")
    assert(snapshot(inc) == snapshot(oneShot))
    assert(SequencePackingSpec.verifyShards(spark, inc).collect().forall(_.getAs[Boolean]("ok")))

    // a second DISTINCT batch keeps extending; ids never collide
    val more = (100L to 110L).map(i => (i, 5L, (1L to 5L).map(j => i * 100 + j)))
    val packedM = SequencePacking
      .packSequences(more.toDF("id", "tok", "ids"), "id", "tok", "ids", budget = 40, partitions = 1)
    assert(SequencePacking.appendShards(packedM, inc, batchKey = "run#2") > 0L)
    val bins = spark.read.parquet(s"$inc/data").select("bin_id").collect().map(_.getLong(0))
    assert(bins.distinct.length == bins.length, "bin ids must stay unique across appends")
    assert(SequencePackingSpec.verifyShards(spark, inc).collect().forall(_.getAs[Boolean]("ok")))
    // and takedown still works across the appended corpus (index-resolved)
    assert(SequencePacking.retractFromShards(spark, inc, Seq(105L)) == 1L)
    assert(SequencePackingSpec.verifyShards(spark, inc).collect().forall(_.getAs[Boolean]("ok")))
  }

  test("takedowns win over appends: tombstones scrub re-arrivals and crash-replays cannot resurrect") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_tomb").toString
    val packed = SequencePacking.packSequences(
      boundaryDocs.toDF("id", "tok", "ids"), "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.exportShards(packed, dir, nShards = 4)

    def docsInStore(): Set[Long] = spark.read.parquet(s"$dir/data")
      .select(explode(col("doc_ids"))).collect().map(_.getLong(0)).toSet

    // take down doc 7, then a later batch RE-CARRIES it (re-arrival of
    // deleted content alongside fresh content)
    assert(SequencePacking.retractFromShards(spark, dir, Seq(7L)) == 1L)
    val reBatch = SequencePacking.packSequences(
      Seq((7L, 6L, (1L to 6L).map(j => 700L + j)),
        (200L, 5L, (1L to 5L).map(j => 20000L + j))).toDF("id", "tok", "ids"),
      "id", "tok", "ids", budget = 40, partitions = 1)
    assert(SequencePacking.appendShards(reBatch, dir, batchKey = "run#re") > 0L)
    assert(!docsInStore().contains(7L), "a tombstoned doc must be scrubbed from later appends")
    assert(docsInStore().contains(200L), "fresh content in the same batch must land")
    assert(SequencePackingSpec.verifyShards(spark, dir).collect().forall(_.getAs[Boolean]("ok")))
    // the membership index holds no trace of the scrubbed doc
    assert(spark.read.parquet(s"$dir/docs").where(col("doc_id") === 7L).isEmpty)

    // crash-window takedown: a batch's DATA lands but neither the index,
    // the manifest splice, nor the ledger do (the worst crash point); a
    // takedown arrives in that window. Discovery must reach the landed
    // bin through the unledgered-tail scan (the index row doesn't exist
    // yet), and the eventual replay must not resurrect the victim.
    val base = spark.read.parquet(s"$dir/meta").agg(max("next_after")).head().getLong(0)
    val crashBatch = SequencePacking.packSequences(
      Seq((300L, 6L, (1L to 6L).map(j => 30000L + j))).toDF("id", "tok", "ids"),
      "id", "tok", "ids", budget = 40, partitions = 1)
    // a real append writes the pending marker BEFORE its first byte of
    // data and deletes it after the ledger — a crash mid-window leaves it
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/pending"), base.toString)
    crashBatch
      .withColumn("bin_id", col("bin_id") + base)
      .withColumn("shard", pmod(col("bin_id"), lit(4L)))
      .write.mode("append").partitionBy("shard").parquet(s"$dir/data")
    assert(docsInStore().contains(300L), "precondition: the crashed bin is on disk")
    assert(SequencePacking.retractFromShards(spark, dir, Seq(300L)) == 1L,
      "mid-window takedown must reach the unledgered bin via the tail scan")
    assert(!docsInStore().contains(300L), "the takedown removes the landed copy immediately")
    SequencePacking.appendShards(crashBatch, dir, batchKey = "run#crash")
    assert(!docsInStore().contains(300L),
      "the replay's pre-landing scrub must not re-land the victim")
    assert(SequencePackingSpec.verifyShards(spark, dir).collect().forall(_.getAs[Boolean]("ok")))
    // the committed replay stays a no-op, the victim stays gone, and the
    // completed append cleared its pending marker (healthy takedowns are
    // index-only again)
    assert(SequencePacking.appendShards(crashBatch, dir, batchKey = "run#crash") == 0L)
    assert(!docsInStore().contains(300L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/pending")))

    // DOUBLE FAULT: an append crashes unledgered AND the takedown that
    // tombstoned doc 400 crashed before its shard rewrite (simulated by
    // appending the tombstone row directly). The next append must finish
    // the crashed takedown BEFORE landing anything.
    val base2 = spark.read.parquet(s"$dir/meta").agg(max("next_after")).head().getLong(0)
    val crash2 = SequencePacking.packSequences(
      Seq((400L, 7L, (1L to 7L).map(j => 40000L + j))).toDF("id", "tok", "ids"),
      "id", "tok", "ids", budget = 40, partitions = 1)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/pending"), base2.toString)
    crash2
      .withColumn("bin_id", col("bin_id") + base2)
      .withColumn("shard", pmod(col("bin_id"), lit(4L)))
      .write.mode("append").partitionBy("shard").parquet(s"$dir/data")
    Seq(400L).toDF("doc_id") // the takedown got as far as its tombstone
      .coalesce(1).write.mode("append").parquet(s"$dir/tombstones")
    assert(docsInStore().contains(400L), "precondition: the double-fault victim is on disk")
    SequencePacking.appendShards(crash2, dir, batchKey = "run#crash2")
    assert(!docsInStore().contains(400L),
      "the replay must finish the crashed takedown before its ledger commits")
    assert(SequencePackingSpec.verifyShards(spark, dir).collect().forall(_.getAs[Boolean]("ok")))

    // a RE-EXPORT resets the tombstones: deliberately re-included content
    // is authoritative and later appends must not scrub it
    SequencePacking.exportShards(packed, dir, nShards = 4)
    assert(SequencePacking.appendShards(reBatch, dir, batchKey = "run#re2") > 0L)
    assert(docsInStore().contains(7L), "a re-exported store must accept the doc again")
  }

  test("appendShards honors the RECORDED layout (narrow founding batch, emptied store)") {
    // founding batch: ONE small doc -> 1 bin -> occupies shard 0 only,
    // but the CONFIGURED layout is 8 — later appends must spread mod 8,
    // exactly as a one-shot export of the union would
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_narrow").toString
    val one = SequencePacking.packSequences(
      Seq((42L, 5L, (1L to 5L).map(j => 4200L + j))).toDF("id", "tok", "ids"),
      "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.exportShards(one, dir, nShards = 8)
    assert(spark.read.parquet(s"$dir/meta").agg(max("n_shards")).head().getLong(0) == 8L)

    val wide = SequencePacking.packSequences(
      (100L to 140L).map(i => (i, 35L, (1L to 35L).map(j => i * 1000 + j)))
        .toDF("id", "tok", "ids"),
      "id", "tok", "ids", budget = 40, partitions = 1)
    assert(SequencePacking.appendShards(wide, dir, batchKey = "run#wide") > 0L)
    val shardsUsed = spark.read.parquet(s"$dir/data")
      .select(col("shard").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(shardsUsed == (0L to 7L).toSet,
      s"appends must spread across the configured 8-shard layout, got $shardsUsed")
    assert(SequencePackingSpec.verifyShards(spark, dir).collect().forall(_.getAs[Boolean]("ok")))

    // EMPTIED store: retract the only doc of a fresh store (manifest ends
    // up with zero rows), then append — must not NPE and must keep mod 8
    val dir2 = java.nio.file.Files.createTempDirectory("graft_shards_empty").toString
    SequencePacking.exportShards(one, dir2, nShards = 8)
    assert(SequencePacking.retractFromShards(spark, dir2, Seq(42L)) == 1L)
    assert(spark.read.parquet(s"$dir2/manifest").isEmpty)
    assert(SequencePacking.appendShards(wide, dir2, batchKey = "run#after-empty") > 0L)
    assert(SequencePackingSpec.verifyShards(spark, dir2).collect().forall(_.getAs[Boolean]("ok")))
  }

  test("membership index keyed (doc_id, shard): a re-carried doc's NEW shard is indexed; takedown reaches both copies") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_recarry").toString
    val first = SequencePacking.packSequences(
      Seq((42L, 5L, (1L to 5L).map(j => 4200L + j))).toDF("id", "tok", "ids"),
      "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.exportShards(first, dir, nShards = 4) // doc 42: bin 0 -> shard 0
    val again = SequencePacking.packSequences(
      Seq((42L, 6L, (1L to 6L).map(j => 9900L + j))).toDF("id", "tok", "ids"),
      "id", "tok", "ids", budget = 40, partitions = 1)
    assert(SequencePacking.appendShards(again, dir, batchKey = "run#dup") > 0L)
    // the second copy landed in bin 1 -> shard 1; the index must hold BOTH
    val idx = spark.read.parquet(s"$dir/docs")
      .select(col("doc_id"), col("shard").cast("long")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(idx == Set((42L, 0L), (42L, 1L)),
      s"index must record every (doc, shard) membership, got $idx")
    // an index-resolved takedown reaches both copies
    assert(SequencePacking.retractFromShards(spark, dir, Seq(42L)) == 2L)
    assert(spark.read.parquet(s"$dir/data").isEmpty)
    assert(SequencePackingSpec.verifyShards(spark, dir).collect().forall(_.getAs[Boolean]("ok")))
  }

  test("tombstone-scrub sweep: random batches + random tombstone sets match an independent reference slicer") {
    val rnd = new scala.util.Random(20250816L)
    (1 to 5).foreach { trial =>
      val n = 20 + rnd.nextInt(40)
      val budget = 30 + rnd.nextInt(40)
      val nShards = 2 + rnd.nextInt(4)
      val docs = (1L to n.toLong).map { i =>
        val tok = 3L + rnd.nextInt(15)
        (i, tok, (1L to tok).map(j => i * 1000 + j))
      }
      val doomed = docs.map(_._1).filter(_ => rnd.nextInt(10) < 3).toSet
      val packed = SequencePacking.packSequences(
        docs.toDF("id", "tok", "ids"), "id", "tok", "ids",
        budget = budget, partitions = 1 + rnd.nextInt(3))
      val packedRows = packed.collect()
        .map(r => (r.getAs[Long]("bin_id"),
          r.getSeq[Long](r.fieldIndex("input_ids")),
          r.getSeq[Long](r.fieldIndex("doc_ids")),
          r.getSeq[Long](r.fieldIndex("doc_lens"))))
        .sortBy(_._1)

      // the store is founded with one sentinel doc (id 999999, never
      // doomed) and the doomed set already tombstoned — the append must
      // land exactly the reference-scrubbed bins, rebased past the
      // founding bin
      val dir = java.nio.file.Files.createTempDirectory(s"graft_scrub_sweep$trial").toString
      val sentinel = SequencePacking.packSequences(
        Seq((999999L, 4L, (1L to 4L).map(j => 99999000L + j))).toDF("id", "tok", "ids"),
        "id", "tok", "ids", budget = budget, partitions = 1)
      SequencePacking.exportShards(sentinel, dir, nShards = nShards)
      doomed.toSeq.toDF("doc_id")
        .coalesce(1).write.mode("append").parquet(s"$dir/tombstones")
      SequencePacking.appendShards(packed, dir, batchKey = s"sweep#$trial")

      // independent reference: walk each packed bin's lens offsets in
      // plain Scala, drop doomed segments, drop emptied bins; appendShards
      // re-ranks the batch's bins DENSE in bin_id order and rebases them
      // past the founding bin (base 1) — shard = rebased id % nShards
      val expected = packedRows.zipWithIndex.flatMap { case ((_, ids, dids, lens), rank) =>
        val rebased = rank.toLong + 1L
        var off = 0
        val kept = dids.indices.flatMap { i =>
          val l = lens(i).toInt
          val seg = if (doomed.contains(dids(i))) None else Some((dids(i), lens(i), ids.slice(off, off + l)))
          off += l
          seg
        }
        if (kept.isEmpty) None
        else Some(rebased -> ((kept.map(_._1), kept.map(_._2), kept.flatMap(_._3), rebased % nShards)))
      }.toMap

      val onDisk = spark.read.parquet(s"$dir/data").where(col("bin_id") >= 1L).collect()
        .map(r => r.getAs[Long]("bin_id") ->
          ((r.getSeq[Long](r.fieldIndex("doc_ids")),
            r.getSeq[Long](r.fieldIndex("doc_lens")),
            r.getSeq[Long](r.fieldIndex("input_ids")),
            r.getAs[Number]("shard").longValue)))
        .toMap
      assert(onDisk.keySet == expected.keySet, s"trial $trial: bin set diverged")
      expected.foreach { case (b, (edids, elens, eids, esh)) =>
        val (dids, lens, ids, sh) = onDisk(b)
        assert(dids == edids && lens == elens && ids == eids && sh == esh,
          s"trial $trial bin $b diverged from the reference slicer")
      }
      assert(SequencePackingSpec.verifyShards(spark, dir).collect().forall(_.getAs[Boolean]("ok")),
        s"trial $trial: store must certify after a scrubbed append")
      // the membership index is exactly the kept docs plus the sentinel
      val idx = spark.read.parquet(s"$dir/docs").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(idx == expected.values.flatMap(_._1).toSet + 999999L,
        s"trial $trial: index diverged")
    }
  }

  test("epochSchedule sweep: permutation + running totals match an independent JVM reimplementation") {
    val rnd = new scala.util.Random(99173L)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    (1 to 4).foreach { trial =>
      val n = 15 + rnd.nextInt(50)
      val docs = (1L to n.toLong).map { i =>
        val tok = 3L + rnd.nextInt(15)
        (i, tok, (1L to tok).map(j => i * 1000 + j))
      }
      val packed = SequencePacking.packSequences(
        docs.toDF("id", "tok", "ids"), "id", "tok", "ids",
        budget = 25 + rnd.nextInt(50), partitions = 1 + rnd.nextInt(3))
      val dir = java.nio.file.Files.createTempDirectory(s"graft_sched_sweep$trial").toString
      SequencePacking.exportShards(packed, dir, nShards = 3)
      val seed = s"sweep-${rnd.nextInt(1000)}"

      // independent reimplementation: JVM MessageDigest + plain sort
      val bins = spark.read.parquet(s"$dir/data")
        .select("bin_id", "bin_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val ordered = bins.sortBy { case (b, _) => (md5hex(s"$seed:$b"), b) }
      val expected = ordered.zipWithIndex.map { case ((b, t), i) =>
        (i + 1L, b, t, ordered.take(i + 1).map(_._2).sum)
      }.toSeq

      val got = graft.operators.LoaderSchedule.epochSchedule(spark, dir, seed)
        .orderBy("ord").collect()
        .map(r => (r.getAs[Long]("ord"), r.getAs[Long]("bin_id"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"))).toSeq
      assert(got == expected, s"trial $trial (seed $seed): schedule diverged from the reimplementation")
    }
  }

  test("compactShards: append-cadence small files fold to one per shard, content-identical, replay guard intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_cmpt").toString
    val all = boundaryDocs
    val third = all.length / 3
    def packOf(docs: Seq[(Long, Long, Seq[Long])]) = SequencePacking
      .packSequences(docs.toDF("id", "tok", "ids"), "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.exportShards(packOf(all.take(third)), dir, nShards = 2)
    assert(SequencePacking.appendShards(packOf(all.slice(third, 2 * third)), dir, "b1") > 0L)
    assert(SequencePacking.appendShards(packOf(all.drop(2 * third)), dir, "b2") > 0L)

    def files(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files("data/shard=0") >= 2, "fixture: appends must have fragmented the shard")
    def snapshot() = spark.read.parquet(s"$dir/data").collect()
      .map(r => (r.getAs[Long]("bin_id"), r.getAs[Long]("n_docs"), r.getAs[Long]("bin_tokens"),
        r.getSeq[Long](r.fieldIndex("input_ids")), r.getSeq[Long](r.fieldIndex("doc_ids"))))
      .sortBy(_._1).toSeq
    val before = snapshot()

    assert(SequencePacking.compactShards(spark, dir) > 0L)
    assert(files("data/shard=0") == 1 && files("data/shard=1") == 1)
    assert(files("meta") == 1)
    assert(snapshot() == before, "compaction must be content-identical")
    assert(SequencePackingSpec.verifyShards(spark, dir).collect().forall(_.getAs[Boolean]("ok")))

    // ledger rows survive: a replayed batch is still a no-op
    assert(SequencePacking.appendShards(packOf(all.drop(2 * third)), dir, "b2") == 0L)
    // and the store stays fully operable: takedown + certified read
    assert(SequencePacking.retractFromShards(spark, dir, Seq(5L)) == 1L)
    assert(SequencePackingSpec.verifyShards(spark, dir).collect().forall(_.getAs[Boolean]("ok")))
    assert(SequencePacking.readShard(spark, dir, 0L).count() > 0L)
  }

  test("readShard: certified read returns the shard's rows; tampering fails loudly at read time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_read").toString
    val df = boundaryDocs.toDF("id", "tok", "ids")
    val packed = SequencePacking.packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.exportShards(packed, dir, nShards = 3)

    // clean shard: rows identical to the raw parquet read
    val raw = spark.read.parquet(s"$dir/data")
      .where(col("shard") === 1L).collect()
      .map(r => (r.getAs[Long]("bin_id"), r.getSeq[Long](r.fieldIndex("input_ids")))).sortBy(_._1).toSeq
    val certified = SequencePacking.readShard(spark, dir, 1L).collect()
      .map(r => (r.getAs[Long]("bin_id"), r.getSeq[Long](r.fieldIndex("input_ids")))).sortBy(_._1).toSeq
    assert(certified == raw && certified.nonEmpty)

    // tamper: drop one parquet part file from the shard -> loud at read
    val parts = new java.io.File(s"$dir/data/shard=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.head.delete()
    val err = intercept[IllegalArgumentException] {
      SequencePacking.readShard(spark, dir, 1L)
    }
    // a shard with SOME files left fails the digest compare ("FAILS
    // certification"); one whose only part file vanished fails the
    // no-data guard — both are the loud refusal the loader needs
    assert(err.getMessage.contains("FAILS certification") ||
      err.getMessage.contains("no data files"))
    // other shards still serve
    assert(SequencePacking.readShard(spark, dir, 0L).collect().nonEmpty)
    // an unknown shard (no manifest row) is refused, not silently empty
    intercept[IllegalArgumentException] { SequencePacking.readShard(spark, dir, 99L) }
  }

  test("takedown discovery is index-resolved and the index survives retraction") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_idx").toString
    val df = boundaryDocs.toDF("id", "tok", "ids")
    val packed = SequencePacking.packSequences(df, "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.exportShards(packed, dir, nShards = 4)

    // the index agrees with the data on every doc's shard
    val fromData = spark.read.parquet(s"$dir/data")
      .select(explode(col("doc_ids")).as("doc_id"), col("shard").cast("long").as("shard"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromIndex = spark.read.parquet(s"$dir/docs")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Number]("shard").longValue).toMap
    assert(fromIndex == fromData)

    // discovery via the index matches a ground-truth scan
    val probe = Seq(3L, 44L)
    val want = fromData.filter(kv => probe.contains(kv._1)).values.toSet
    assert(SequencePacking.affectedShardsFor(spark, dir, probe).toSet == want)

    // retraction maintains the index: the victim's entry is gone, everyone
    // else's survives, and a SECOND takedown of the same doc is a no-op
    assert(SequencePacking.retractFromShards(spark, dir, Seq(3L)) == 1L)
    val afterIdx = spark.read.parquet(s"$dir/docs").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(afterIdx == (1L to 60L).filterNot(_ == 3L))
    assert(SequencePacking.retractFromShards(spark, dir, Seq(3L)) == 0L)

    // a pre-index store (docs dir absent) still discovers via the fallback scan
    rmDir(new java.io.File(s"$dir/docs"))
    assert(SequencePacking.affectedShardsFor(spark, dir, Seq(44L)).toSet == Set(fromData(44L)))
  }

  test("forEachShardConcurrently: an interrupted caller keeps its interrupt and cancels unstarted shards") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val running = new CountDownLatch(1)
    val unblock = new CountDownLatch(1)
    @volatile var outcome: Option[Throwable] = None
    @volatile var flagAfter = false
    val caller = new Thread(() => {
      try SequencePacking.forEachShardConcurrently((1L to 5L), maxInFlight = 1) { sh =>
        started.add(sh)
        running.countDown()
        unblock.await()
      } catch { case t: Throwable => outcome = Some(t) }
      flagAfter = Thread.currentThread().isInterrupted
    })
    caller.start()
    assert(running.await(30, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive, "the interrupted caller must stop waiting on the shards")
    unblock.countDown()
    Thread.sleep(200)
    assert(outcome.exists(_.isInstanceOf[InterruptedException]), s"got $outcome")
    assert(flagAfter, "the caller's interrupt flag must be restored")
    assert(started.toArray.toSeq == Seq(1L), "shards not yet started must be cancelled")
  }

  test("forEachShardConcurrently: secondary shard failures are attached to the first") {
    val barrier = new java.util.concurrent.CyclicBarrier(3)
    val e = intercept[IllegalStateException] {
      SequencePacking.forEachShardConcurrently(Seq(1L, 2L, 3L), maxInFlight = 3) { sh =>
        // all three shards are in flight before any fails
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
        throw new IllegalStateException(s"shard $sh")
      }
    }
    val all = (e +: e.getSuppressed.toSeq).map(_.getMessage).toSet
    assert(all == Set("shard 1", "shard 2", "shard 3"), s"got $all")
    assert(e.getSuppressed.length == 2)
  }

  private def rmDir(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rmDir); f.delete()
  }
}

object SequencePackingSpec {

  /** Integrity check of a [[SequencePacking.exportShards]] directory:
    * recompute every shard's manifest row from the files on disk and
    * compare against the stored manifest. Returns one row per shard —
    * `(shard, ok, n_bins, n_docs, n_tokens, digest, a_bins, a_docs,
    * a_tokens, a_digest)` with the stored (`n_*`/`digest`) and actual
    * (`a_*`) sides kept so a mismatch says WHAT diverged; `ok` is false
    * for any count/digest drift, a shard present only in the manifest
    * (files lost), or files present with no manifest row, so a bit
    * flip, a lost parquet part or a stale manifest all surface here.
    */
  def verifyShards(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val stored = spark.read.parquet(s"$path/manifest")
    val actual = spark.read.parquet(s"$path/data")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("a_bins"),
        sum("n_docs").as("a_docs"),
        sum("bin_tokens").as("a_tokens"),
        sum(SequencePacking.binDigest).as("a_digest"))
    stored.join(actual, Seq("shard"), "full_outer")
      .select(
        col("shard"),
        coalesce(
          col("n_bins") === col("a_bins") &&
            col("n_docs") === col("a_docs") &&
            col("n_tokens") === col("a_tokens") &&
            col("digest") === col("a_digest"),
          lit(false)).as("ok"),
        col("n_bins"), col("n_docs"), col("n_tokens"), col("digest"),
        col("a_bins"), col("a_docs"), col("a_tokens"), col("a_digest"))
      .orderBy("shard")
  }
}
