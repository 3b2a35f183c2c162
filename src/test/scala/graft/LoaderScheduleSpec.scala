package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{LoaderSchedule, SequencePacking}

class LoaderScheduleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docs(n: Long, salt: Long = 0L) = (1L to n)
    .map(i => (i, (i * 37 % 17) + 3 + salt))
    .map { case (i, tok) => (i, tok, (1L to tok).map(j => i * 100 + j)) }

  private def freshStore(prefix: String, n: Long = 60L, nShards: Int = 4,
      salt: Long = 0L): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val df = docs(n, salt).toDF("id", "tok", "ids")
    val packed = SequencePacking.packSequences(df, "id", "tok", "ids", budget = 40, partitions = 2)
    SequencePacking.exportShards(packed, dir, nShards = nShards)
    dir
  }

  test("epochSchedule: a certified permutation of every bin, exact running totals, seed-keyed") {
    val dir = freshStore("graft_lsched")
    val bins = spark.read.parquet(s"$dir/data")
      .select(col("bin_id"), col("bin_tokens")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val sched = LoaderSchedule.epochSchedule(spark, dir, "epoch-0").orderBy("ord").collect()

    // a permutation: every bin exactly once, ord dense 1..n
    assert(sched.map(_.getAs[Long]("bin_id")).toSet == bins.keySet)
    assert(sched.map(_.getAs[Long]("ord")).toSeq == (1L to bins.size).toSeq)
    // tokens carried faithfully and cum exact at every position
    var run = 0L
    sched.foreach { r =>
      assert(r.getAs[Long]("n_tokens") == bins(r.getAs[Long]("bin_id")))
      run += r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("cum_tokens") == run, s"cum drift at ord ${r.getAs[Long]("ord")}")
    }
    assert(run == bins.values.sum)
    // shard rides through (= bin_id % 4, the export layout)
    sched.foreach(r => assert(r.getAs[Long]("shard") == r.getAs[Long]("bin_id") % 4))

    // deterministic: same seed -> identical schedule (and partition-count independent)
    val again = LoaderSchedule.epochSchedule(spark, dir, "epoch-0", partitions = 7)
      .orderBy("ord").collect()
    assert(sched.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // a different seed is a different permutation (overwhelmingly)
    val other = LoaderSchedule.epochSchedule(spark, dir, "epoch-1").orderBy("ord").collect()
    assert(other.map(_.getAs[Long]("bin_id")).toSeq != sched.map(_.getAs[Long]("bin_id")).toSeq)
    // ...but the same SET of bins and the same total
    assert(other.map(_.getAs[Long]("bin_id")).toSet == bins.keySet)
    assert(other.last.getAs[Long]("cum_tokens") == run)
  }

  test("resumeFrom: consumed prefix and resumed tail partition the epoch exactly") {
    val dir = freshStore("graft_lresume")
    val sched = LoaderSchedule.epochSchedule(spark, dir, "ep")
    val total = sched.agg(max("cum_tokens")).head().getLong(0)
    // cursors at a bin boundary, mid-stream, zero, and past-the-end
    val boundary = sched.orderBy("ord").collect()(2).getAs[Long]("cum_tokens")
    Seq(0L, boundary, boundary + 1L, total, total + 5L).foreach { cursor =>
      val tail = LoaderSchedule.resumeFrom(sched, cursor).orderBy("ord").collect()
      val full = sched.orderBy("ord").collect()
      val consumed = full.takeWhile(_.getAs[Long]("cum_tokens") <= cursor)
      assert(consumed.map(_.toSeq).toSeq ++ tail.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq,
        s"prefix ∪ tail != epoch at cursor $cursor")
    }
    // a cursor mid-bin re-reads that bin (its cum exceeds the cursor)
    val tailMid = LoaderSchedule.resumeFrom(sched, boundary - 1L).orderBy("ord").head()
    assert(tailMid.getAs[Long]("cum_tokens") == boundary)
  }

  test("workerSlices: balanced round-robin deal, each slice in epoch order, re-deal is a re-map") {
    val dir = freshStore("graft_lworkers")
    val sched = LoaderSchedule.epochSchedule(spark, dir, "ep")
    val n = sched.count()
    Seq(1, 3, 7).foreach { w =>
      val sliced = LoaderSchedule.workerSlices(sched, w).collect()
      val byWorker = sliced.groupBy(_.getAs[Long]("worker"))
      assert(byWorker.keySet == (0L until math.min(w.toLong, n)).toSet)
      val sizes = byWorker.values.map(_.length)
      assert(sizes.max - sizes.min <= 1, s"unbalanced deal at $w workers: $sizes")
      // the union is the schedule, each slice strictly increasing in ord
      assert(sliced.map(_.getAs[Long]("ord")).sorted.toSeq == (1L to n).toSeq)
      byWorker.values.foreach { slice =>
        val ords = slice.map(_.getAs[Long]("ord")).sorted
        assert(ords.zip(ords.tail).forall { case (a, b) => b == a + w }, "not a round-robin deal")
      }
    }
  }

  test("mixtureSchedule: weight-faithful prefixes, every bin once, resume/workers compose") {
    val dirA = freshStore("graft_lmix_a", n = 90L)
    val dirB = freshStore("graft_lmix_b", n = 30L, salt = 2L)
    val sched = LoaderSchedule.mixtureSchedule(
      spark, Seq(("a", dirA, 3L), ("b", dirB, 1L)), "mix").orderBy("ord").collect()

    val nA = spark.read.parquet(s"$dirA/data").count()
    val nB = spark.read.parquet(s"$dirB/data").count()
    assert(sched.length == (nA + nB).toInt)
    // every bin of each store appears exactly once under its domain
    assert(sched.count(_.getAs[String]("domain") == "a") == nA.toInt)
    assert(sched.count(_.getAs[String]("domain") == "b") == nB.toInt)
    // weighted-fair prefixes: while both domains still have bins, every
    // prefix serves a:b at 3:1 within one scheduling quantum
    var servedA = 0L
    var servedB = 0L
    sched.foreach { r =>
      if (r.getAs[String]("domain") == "a") servedA += 1 else servedB += 1
      if (servedA < nA && servedB < nB) {
        // virtual-time bound: |servedA - 3*servedB| stays within one round of the 3:1 cycle
        assert(math.abs(servedA - 3L * servedB) <= 3L,
          s"prefix drifted from 3:1 at ord ${r.getAs[Long]("ord")}: a=$servedA b=$servedB")
      }
    }
    // cum_tokens is the combined running total
    var run = 0L
    sched.foreach { r =>
      run += r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("cum_tokens") == run)
    }
    // determinism + composition with resumeFrom
    val sched2 = LoaderSchedule.mixtureSchedule(
      spark, Seq(("a", dirA, 3L), ("b", dirB, 1L)), "mix")
    val tail = LoaderSchedule.resumeFrom(sched2, run / 2L).orderBy("ord").collect()
    assert(tail.map(_.toSeq).toSeq ==
      sched.dropWhile(_.getAs[Long]("cum_tokens") <= run / 2L).map(_.toSeq).toSeq)

    // weights are ratios: an un-reducible lcm is refused loudly
    val big = intercept[IllegalArgumentException] {
      LoaderSchedule.mixtureSchedule(
        spark, Seq(("a", dirA, 2147483647L), ("b", dirB, 2147483646L)), "mix")
    }
    assert(big.getMessage.contains("lcm"))
  }

  test("epochPlan: independent epochs, continuing coordinates, global cursor resumes mid-epoch") {
    val dir = freshStore("graft_lplan")
    val plan = LoaderSchedule.epochPlan(spark, dir, "pl", nEpochs = 3).orderBy("ord").collect()
    val one = LoaderSchedule.epochSchedule(spark, dir, "pl/2").orderBy("ord").collect()
    val nBins = one.length
    val total = one.last.getAs[Long]("cum_tokens")

    assert(plan.length == 3 * nBins)
    // ord dense and globally continuing; cum exact across the whole plan
    assert(plan.map(_.getAs[Long]("ord")).toSeq == (1L to 3L * nBins).toSeq)
    var run = 0L
    plan.foreach { r =>
      run += r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("cum_tokens") == run)
    }
    // epoch 2's slice IS epochSchedule(seed "pl/2"), offset by one epoch
    val e2 = plan.filter(_.getAs[Long]("epoch") == 2L)
    assert(e2.map(_.getAs[Long]("bin_id")).toSeq == one.map(_.getAs[Long]("bin_id")).toSeq)
    assert(e2.map(_.getAs[Long]("ord")).toSeq == one.map(_.getAs[Long]("ord") + nBins).toSeq)
    assert(e2.map(_.getAs[Long]("cum_tokens")).toSeq ==
      one.map(_.getAs[Long]("cum_tokens") + total).toSeq)
    // epochs are DIFFERENT permutations of the same bin set
    val e1Order = plan.filter(_.getAs[Long]("epoch") == 1L).map(_.getAs[Long]("bin_id")).toSeq
    assert(e1Order != e2.map(_.getAs[Long]("bin_id")).toSeq)
    assert(e1Order.toSet == e2.map(_.getAs[Long]("bin_id")).toSet)
    // a global token cursor inside epoch 2 resumes there via plain resumeFrom
    val cursor = total + one(nBins / 2).getAs[Long]("cum_tokens")
    val tail = LoaderSchedule.resumeFrom(
      LoaderSchedule.epochPlan(spark, dir, "pl", nEpochs = 3), cursor).orderBy("ord").collect()
    assert(tail.head.getAs[Long]("epoch") == 2L)
    assert(tail.map(_.toSeq).toSeq ==
      plan.dropWhile(_.getAs[Long]("cum_tokens") <= cursor).map(_.toSeq).toSeq)
  }

  test("mixturePlan: per-domain repeat factors, WFQ-faithful prefixes, epochs in order, resume/workers compose") {
    val dirA = freshStore("graft_lmplan_a", n = 90L)
    val dirB = freshStore("graft_lmplan_b", n = 30L, salt = 2L)
    // the Pile/LLaMA shape: the small domain upsampled (2 epochs), the bulk once
    val plan = LoaderSchedule.mixturePlan(
      spark, Seq(("a", dirA, 3L, 1), ("b", dirB, 1L, 2)), "mp").orderBy("ord").collect()

    val nA = spark.read.parquet(s"$dirA/data").count()
    val nB = spark.read.parquet(s"$dirB/data").count()
    assert(plan.length == (nA + 2L * nB).toInt)
    assert(plan.map(_.getAs[Long]("ord")).toSeq == (1L to plan.length).toSeq)
    // every bin of A once; every bin of B exactly twice (once per epoch)
    assert(plan.count(_.getAs[String]("domain") == "a") == nA.toInt)
    assert(plan.count(_.getAs[String]("domain") == "b") == 2 * nB.toInt)
    // cum_tokens exact over the whole interleave
    var run = 0L
    plan.foreach { r =>
      run += r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("cum_tokens") == run)
    }
    // domain B's stream: epoch 1 entirely before epoch 2 (stream position
    // ordering), and each epoch taken alone IS that seed's epochSchedule order
    val bStream = plan.filter(_.getAs[String]("domain") == "b")
    val bEpochs = bStream.map(_.getAs[Long]("epoch")).toSeq
    assert(bEpochs == bEpochs.sorted, "domain epochs out of order in the interleave")
    (1 to 2).foreach { e =>
      val got = bStream.filter(_.getAs[Long]("epoch") == e.toLong).map(_.getAs[Long]("bin_id")).toSeq
      val want = LoaderSchedule.epochSchedule(spark, dirB, s"mp:b/$e")
        .orderBy("ord").collect().map(_.getAs[Long]("bin_id")).toSeq
      assert(got == want, s"domain b epoch $e is not epochSchedule(seed mp:b/$e)")
    }
    // WFQ prefixes hold at 3:1 over the repeated stream while both domains live
    var servedA = 0L
    var servedB = 0L
    plan.foreach { r =>
      if (r.getAs[String]("domain") == "a") servedA += 1 else servedB += 1
      if (servedA < nA && servedB < 2L * nB)
        assert(math.abs(servedA - 3L * servedB) <= 3L,
          s"prefix drifted from 3:1 at ord ${r.getAs[Long]("ord")}: a=$servedA b=$servedB")
    }
    // resumeFrom and workerSlices compose unchanged on the plan
    val plan2 = LoaderSchedule.mixturePlan(
      spark, Seq(("a", dirA, 3L, 1), ("b", dirB, 1L, 2)), "mp")
    val tail = LoaderSchedule.resumeFrom(plan2, run / 2L).orderBy("ord").collect()
    assert(tail.map(_.toSeq).toSeq ==
      plan.dropWhile(_.getAs[Long]("cum_tokens") <= run / 2L).map(_.toSeq).toSeq)
    val sliced = LoaderSchedule.workerSlices(plan2, 4).collect()
    val sizes = sliced.groupBy(_.getAs[Long]("worker")).values.map(_.length)
    assert(sizes.max - sizes.min <= 1)
    // weights reduced by gcd: (300, 100) must behave exactly like (3, 1)
    val scaled = LoaderSchedule.mixturePlan(
      spark, Seq(("a", dirA, 300L, 1), ("b", dirB, 100L, 2)), "mp").orderBy("ord").collect()
    assert(scaled.map(_.toSeq).toSeq == plan.map(_.toSeq).toSeq)

    // the checked cursor composes over the mixture's MULTIPLE stores:
    // green while both stamps hold, loud when any ONE domain mutates
    val cur = LoaderSchedule.mintCursor(spark, Seq(dirA, dirB), run / 3L)
    assert(LoaderSchedule.resumeFromChecked(spark, Seq(dirA, dirB), plan2, cur).count() ==
      LoaderSchedule.resumeFrom(plan2, run / 3L).count())
    SequencePacking.retractFromShards(spark, dirB, Seq(2L))
    intercept[IllegalArgumentException] {
      LoaderSchedule.resumeFromChecked(spark, Seq(dirA, dirB),
        LoaderSchedule.mixturePlan(spark, Seq(("a", dirA, 3L, 1), ("b", dirB, 1L, 2)), "mp"), cur)
    }
  }

  test("planForTokens: the shortest epoch-plan prefix reaching a token budget") {
    val dir = freshStore("graft_ltb")
    val total = LoaderSchedule.storeStamp(spark, dir).nTokens
    val t = total * 3L / 2L
    val plan = LoaderSchedule.planForTokens(spark, dir, "tb", t).orderBy("ord").collect()
    val full = LoaderSchedule.epochPlan(spark, dir, "tb", nEpochs = 2).orderBy("ord").collect()
    // exactly the bins whose segment starts before T — a prefix of the
    // two-epoch plan with the untruncated coordinates
    assert(plan.map(_.toSeq).toSeq == full.takeWhile(r =>
      r.getAs[Long]("cum_tokens") - r.getAs[Long]("n_tokens") < t).map(_.toSeq).toSeq)
    // the budget is REACHED: the last kept bin crosses T, its predecessor doesn't
    assert(plan.last.getAs[Long]("cum_tokens") >= t)
    assert(plan.init.last.getAs[Long]("cum_tokens") < t)
    // T == total → exactly one full epoch, nothing from epoch 2
    val one = LoaderSchedule.planForTokens(spark, dir, "tb", total).collect()
    assert(one.length.toLong == LoaderSchedule.epochSchedule(spark, dir, "tb/1").count())
    assert(one.forall(_.getAs[Long]("epoch") == 1L))
    // T == total + 1 → epoch 2 contributes exactly its first bin
    val plus = LoaderSchedule.planForTokens(spark, dir, "tb", total + 1L).collect()
    assert(plus.count(_.getAs[Long]("epoch") == 2L) == 1)
    // composes with the checked cursor machinery unchanged
    val cur = LoaderSchedule.mintCursor(spark, Seq(dir), t / 2L)
    assert(LoaderSchedule.resumeFromChecked(spark, Seq(dir),
      LoaderSchedule.planForTokens(spark, dir, "tb", t), cur).count() > 0L)
    // an empty budget or an empty store is refused loudly
    intercept[IllegalArgumentException](LoaderSchedule.planForTokens(spark, dir, "tb", 0L))
  }

  test("stale-cursor detection: a resume against a mutated store fails loud; re-sync is explicit") {
    val dir = freshStore("graft_lstale")
    val sched = LoaderSchedule.epochSchedule(spark, dir, "ck")
    val half = sched.agg(max("cum_tokens")).head().getLong(0) / 2L
    val cursor = LoaderSchedule.mintCursor(spark, Seq(dir), half)

    // unchanged store: the checked resume IS resumeFrom
    val checked = LoaderSchedule.resumeFromChecked(spark, Seq(dir), sched, cursor)
      .orderBy("ord").collect().map(_.toSeq).toSeq
    assert(checked == LoaderSchedule.resumeFrom(sched, half).orderBy("ord").collect().map(_.toSeq).toSeq)

    // mutate the store mid-training (a takedown); the old cursor now maps
    // into a DIFFERENT permutation — the checked resume must fail loud
    SequencePacking.retractFromShards(spark, dir, Seq(5L))
    val rebuilt = LoaderSchedule.epochSchedule(spark, dir, "ck")
    val ex = intercept[IllegalArgumentException] {
      LoaderSchedule.resumeFromChecked(spark, Seq(dir), rebuilt, cursor)
    }
    assert(ex.getMessage.contains("drifted"), ex.getMessage)
    assert(ex.getMessage.contains("resumeFrom(newSchedule, cursor.afterTokens)"),
      "the error must document the explicit re-sync path")
    // checkpoints ADVANCE the cursor (Cursor.at), never re-mint: the stamp
    // keeps witnessing BUILD-time state, so even an advanced cursor trips
    // on the mutated store — re-minting here would stamp post-mutation
    // state and mask exactly this drift
    intercept[IllegalArgumentException] {
      LoaderSchedule.resumeFromChecked(spark, Seq(dir), rebuilt, cursor.at(half + 100L))
    }
    // a resume naming a different store set fails before any stamp read
    val wrong = intercept[IllegalArgumentException] {
      LoaderSchedule.resumeFromChecked(spark, Seq(dir + "_elsewhere"), rebuilt, cursor)
    }
    assert(wrong.getMessage.contains("different store set"), wrong.getMessage)
    // the documented re-sync: rebuild + explicit resumeFrom still works,
    // and a cursor re-minted against the mutated store checks green again
    assert(LoaderSchedule.resumeFrom(rebuilt, cursor.afterTokens).count() > 0L)
    val fresh = LoaderSchedule.mintCursor(spark, Seq(dir), cursor.afterTokens)
    assert(LoaderSchedule.resumeFromChecked(spark, Seq(dir), rebuilt, fresh).count() > 0L)

    // an APPEND drifts the stamp too (growth, not just loss)
    val extra = docs(5L, salt = 9L).map { case (i, t, ids) => (i + 2000L, t, ids) }
      .toDF("id", "tok", "ids")
    val packedExtra = SequencePacking.packSequences(extra, "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.appendShards(packedExtra, dir, batchKey = "stale#grow")
    intercept[IllegalArgumentException] {
      LoaderSchedule.resumeFromChecked(spark, Seq(dir),
        LoaderSchedule.epochSchedule(spark, dir, "ck"), fresh)
    }
  }

  test("mixturePlan sweep: the WFQ interleave matches an independent JVM reimplementation") {
    val rnd = new scala.util.Random(55441L)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    (1 to 3).foreach { trial =>
      val k = 2 + rnd.nextInt(2)
      val domains = (0 until k).map { d =>
        val n = 10 + rnd.nextInt(30)
        val src = (1L to n.toLong).map { i =>
          val tok = 3L + rnd.nextInt(12)
          (i, tok, (1L to tok).map(j => i * 1000 + j))
        }
        val packed = SequencePacking.packSequences(
          src.toDF("id", "tok", "ids"), "id", "tok", "ids",
          budget = 20 + rnd.nextInt(40), partitions = 1 + rnd.nextInt(3))
        val dir = java.nio.file.Files.createTempDirectory(s"graft_mixp_sweep${trial}_$d").toString
        SequencePacking.exportShards(packed, dir, nShards = 2 + rnd.nextInt(3))
        (s"dom$d", dir, 1L + rnd.nextInt(6), 1 + rnd.nextInt(3))
      }
      val seed = s"mps-${rnd.nextInt(1000)}"

      // independent reimplementation: JVM MessageDigest permutations, a
      // plain-BigInt WFQ clock (gcd-reduced), and a sequential prefix sum
      def expectedFor(doms: Seq[(String, String, Long, Int)], sd: String) = {
        val g = doms.map(d => BigInt(d._3)).reduce(_ gcd _)
        val lcm = doms.map(d => BigInt(d._3) / g).reduce((a, b) => a / a.gcd(b) * b)
        val rows = doms.flatMap { case (dom, dir, w, reps) =>
          val bins = spark.read.parquet(s"$dir/data")
            .select(col("shard").cast("long"), col("bin_id"), col("bin_tokens")).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          val step = (lcm / (BigInt(w) / g)).toLong
          (1 to reps).flatMap { e =>
            val ordered = bins.sortBy { case (_, b, _) => (md5hex(s"$sd:$dom/$e:$b"), b) }
            ordered.zipWithIndex.map { case ((sh, b, t), i) =>
              val kpos = (e - 1).toLong * bins.length + (i + 1L)
              (kpos * step, dom, kpos, e.toLong, sh, b, t)
            }
          }
        }
        var cum = 0L
        rows.sortBy { case (vt, dom, kpos, _, _, _, _) => (vt, dom, kpos) }
          .zipWithIndex.map { case ((_, dom, _, e, sh, b, t), i) =>
            cum += t
            (i + 1L, dom, e, sh, b, t, cum)
          }.toSeq
      }
      def collectPlan(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("ord").collect()
          .map(r => (r.getAs[Long]("ord"), r.getAs[String]("domain"), r.getAs[Long]("epoch"),
            r.getAs[Long]("shard"), r.getAs[Long]("bin_id"), r.getAs[Long]("n_tokens"),
            r.getAs[Long]("cum_tokens"))).toSeq

      val expected = expectedFor(domains, seed)
      val got = collectPlan(LoaderSchedule.mixturePlan(spark, domains, seed))
      assert(got == expected,
        s"trial $trial (seed $seed, domains ${domains.map(d => (d._1, d._3, d._4))}): " +
          "mixture plan diverged from the reimplementation")

      // the BUDGET-DRIVEN composition against the same reimplementation:
      // derive each domain's repeat factor from its token share with the
      // documented integer formulas, re-run the WFQ with the derived
      // reps, and cut at the start-before-T boundary
      val totals = domains.map { case (dom, dir, _, _) =>
        dom -> spark.read.parquet(s"$dir/manifest")
          .agg(sum("n_tokens")).head().getLong(0)
      }.toMap
      val wsum = domains.map(d => BigInt(d._3)).sum
      val budget = 1L + (rnd.nextDouble() * 2.5 * totals.values.sum).toLong
      def ceilDiv(a: BigInt, b: BigInt) = (a + b - 1) / b
      val derived = domains.map { case (dom, dir, w, _) =>
        (dom, dir, w,
          ceilDiv(ceilDiv(BigInt(budget) * w, wsum), BigInt(totals(dom))).toInt)
      }
      val seedB = s"$seed-b"
      val expectedB = expectedFor(derived, seedB)
        .takeWhile { case (_, _, _, _, _, t, cum) => cum - t < budget }
      val gotB = collectPlan(LoaderSchedule.planForTokensMixture(
        spark, derived.map(d => (d._1, d._2, d._3)), seedB, budget))
      assert(gotB == expectedB,
        s"trial $trial (seed $seedB, budget $budget, derived ${derived.map(d => (d._1, d._3, d._4))}): " +
          "budget mixture diverged from the reimplementation")
      assert(gotB.nonEmpty && gotB.last._7 >= budget,
        s"trial $trial: budget $budget not reached (last cum ${gotB.last._7})")
    }
  }

  test("a legitimately EMPTIED store schedules as empty, not as corruption") {
    val dir = freshStore("graft_lempty", n = 8L)
    val allDocs = spark.read.parquet(s"$dir/docs").select("doc_id")
      .collect().map(_.getLong(0)).distinct.toSeq
    SequencePacking.retractFromShards(spark, dir, allDocs)
    // every doc retracted: the manifest legitimately records nothing
    spark.catalog.refreshByPath(s"$dir/manifest")
    assert(spark.read.parquet(s"$dir/manifest").isEmpty)
    // ADVICE r15: this used to throw 'FAILS certification', which no
    // recovery can help on an empty store
    assert(LoaderSchedule.epochSchedule(spark, dir, "e").isEmpty)
    assert(LoaderSchedule.epochPlan(spark, dir, "e", nEpochs = 2).isEmpty)
    assert(LoaderSchedule.storeStamp(spark, dir) == LoaderSchedule.StoreStamp(0L, 0L, 0L))
    // a mixture over (live, emptied) serves only the live domain
    val live = freshStore("graft_lempty_live", n = 20L, salt = 1L)
    val mix = LoaderSchedule.mixtureSchedule(
      spark, Seq(("live", live, 2L), ("gone", dir, 1L)), "m").collect()
    assert(mix.nonEmpty && mix.forall(_.getAs[String]("domain") == "live"))
    // and the zero stamp still detects later growth through the checked resume
    val cursor = LoaderSchedule.mintCursor(spark, Seq(dir), 0L)
    val extra = docs(4L, salt = 3L).map { case (i, t, ids) => (i + 3000L, t, ids) }
      .toDF("id", "tok", "ids")
    val packedExtra = SequencePacking.packSequences(extra, "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.appendShards(packedExtra, dir, batchKey = "empty#grow")
    intercept[IllegalArgumentException] {
      LoaderSchedule.resumeFromChecked(spark, Seq(dir),
        LoaderSchedule.epochSchedule(spark, dir, "e"), cursor)
    }
  }

  test("schedules refuse an uncertified store, and cover appended bins once healthy") {
    val dir = freshStore("graft_lcert")
    val before = LoaderSchedule.epochSchedule(spark, dir, "ep").count()

    // grow the store incrementally: the next epoch covers old + new bins
    val extra = docs(20L, salt = 7L).map { case (i, t, ids) => (i + 1000L, t, ids) }
      .toDF("id", "tok", "ids")
    val packedExtra = SequencePacking.packSequences(extra, "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.appendShards(packedExtra, dir, batchKey = "spec#grow")
    val after = LoaderSchedule.epochSchedule(spark, dir, "ep").orderBy("ord").collect()
    assert(after.length > before.toInt, "appended bins missing from the next epoch")
    assert(after.map(_.getAs[Long]("ord")).toSeq == (1L to after.length).toSeq)
    assert(after.map(_.getAs[Long]("bin_id")).distinct.length == after.length)

    // corrupt the store (drop a data file); scheduling must fail LOUDLY
    val victim = new java.io.File(s"$dir/data/shard=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val ex = intercept[IllegalArgumentException] {
      LoaderSchedule.epochSchedule(spark, dir, "ep").count()
    }
    assert(ex.getMessage.contains("FAILS certification"))
  }

  test("planForTokensMixture: derived repeat factors, budget cut, resume/workers compose") {
    val dirA = freshStore("graft_ltbm_a", n = 50L)
    val dirB = freshStore("graft_ltbm_b", n = 30L, salt = 5L)
    val totA = LoaderSchedule.storeStamp(spark, dirA).nTokens
    val totB = LoaderSchedule.storeStamp(spark, dirB).nTokens
    val t = (totA + totB) * 3L / 2L
    val stores = Seq(("a", dirA, 3L), ("b", dirB, 1L))
    val plan = LoaderSchedule.planForTokensMixture(spark, stores, "tbm", t)
      .orderBy("ord").collect()

    // the documented derivation: share_d = ceil(T*w/W), epochs_d = ceil(share/total)
    def ceilDiv(a: BigInt, b: BigInt) = (a + b - 1) / b
    val epochsA = ceilDiv(ceilDiv(BigInt(t) * 3, BigInt(4)), BigInt(totA)).toInt
    val epochsB = ceilDiv(ceilDiv(BigInt(t) * 1, BigInt(4)), BigInt(totB)).toInt
    // the plan IS mixturePlan(derived epochs) cut at the start-before-T boundary
    val full = LoaderSchedule.mixturePlan(
        spark, Seq(("a", dirA, 3L, epochsA), ("b", dirB, 1L, epochsB)), "tbm")
      .orderBy("ord").collect()
    assert(plan.map(_.toSeq).toSeq == full.takeWhile(r =>
      r.getAs[Long]("cum_tokens") - r.getAs[Long]("n_tokens") < t).map(_.toSeq).toSeq)
    // the budget is REACHED and the boundary is exact: the last kept bin
    // crosses T, its predecessor doesn't (supply >= sum of ceil'd shares >= T)
    assert(plan.last.getAs[Long]("cum_tokens") >= t)
    assert(plan.init.last.getAs[Long]("cum_tokens") < t)
    // repeat budgets respected per domain, epochs in order within each
    Seq(("a", epochsA), ("b", epochsB)).foreach { case (d, cap) =>
      val es = plan.filter(_.getAs[String]("domain") == d).map(_.getAs[Long]("epoch"))
      assert(es.nonEmpty && es.max <= cap.toLong, s"domain $d exceeded its derived cap $cap")
      assert(es.toSeq == es.sorted.toSeq, s"domain $d epochs out of order")
    }
    // resumeFromChecked and workerSlices compose unchanged
    val planDf = LoaderSchedule.planForTokensMixture(spark, stores, "tbm", t)
    val cur = LoaderSchedule.mintCursor(spark, Seq(dirA, dirB), t / 2L)
    assert(LoaderSchedule.resumeFromChecked(spark, Seq(dirA, dirB), planDf, cur).count() > 0L)
    val sizes = LoaderSchedule.workerSlices(planDf, 3)
      .groupBy("worker").count().collect().map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1L, s"unbalanced deal: ${sizes.mkString(",")}")
    // refusals: empty budget, duplicate domains, non-positive weights
    intercept[IllegalArgumentException](
      LoaderSchedule.planForTokensMixture(spark, stores, "tbm", 0L))
    intercept[IllegalArgumentException](
      LoaderSchedule.planForTokensMixture(spark,
        Seq(("a", dirA, 3L), ("a", dirB, 1L)), "tbm", t))
    intercept[IllegalArgumentException](
      LoaderSchedule.planForTokensMixture(spark,
        Seq(("a", dirA, 0L), ("b", dirB, 1L)), "tbm", t))
  }

  test("mixturePlan driver cost is O(1) in the repeat factor: identical job count at reps 2 vs 50") {
    // r17 verdict #1, pinned as a regression check (the rehearsal's
    // loader100 leg measures it at reps=1000): the in-frame epoch
    // expansion must run the SAME number of Spark jobs whatever the
    // repeat factors — the old shape ran one partition-count job per
    // (domain, epoch) plus an O(epochs)-way union
    val dirA = freshStore("graft_jobs_a", n = 30L)
    val dirB = freshStore("graft_jobs_b", n = 20L, salt = 3L)
    def jobsFor(reps: Int): Long = {
      val jobs = new java.util.concurrent.atomic.AtomicLong
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(counter)
      try {
        LoaderSchedule.mixturePlan(
            spark, Seq(("a", dirA, 3L, reps), ("b", dirB, 1L, 1)), "jc")
          .agg(max("cum_tokens")).head()
        ()
      } finally {
        try {
          val bus = spark.sparkContext.getClass.getMethod("listenerBus")
            .invoke(spark.sparkContext)
          bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
        } catch { case _: ReflectiveOperationException => Thread.sleep(500) }
        spark.sparkContext.removeSparkListener(counter)
      }
      jobs.get()
    }
    val j2 = jobsFor(2)
    val j50 = jobsFor(50)
    // AQE may add the odd stage-job as row counts shift (measured 30 vs
    // 31); the regression under test is the old one-job-per-epoch shape,
    // which would add ~2 x 48 jobs here
    assert(j50 <= j2 + 3,
      s"mixturePlan job count must not scale with reps: $j2 jobs at reps=2 vs $j50 at reps=50")
  }

  /** r17 verdict #4 — the COMPOSITE a trainer integration would trust:
    * every piece is individually spec'd above; this scenario chains them
    * with a failure injected at the worst moment. Budget-driven mixture
    * plan → worker deal → consume to a mid-plan checkpoint → crash →
    * the ingest appends to ONE domain while the trainer is down → the
    * checked resume trips LOUD → deliberate re-sync (rebuild + re-mint
    * at the sound lower bound) → the resumed tail is served through
    * CERTIFIED readShard to budget exhaustion, every scheduled bin
    * accounted for.
    */
  test("trainer rehearsal end-to-end: plan, deal, crash, append drift, loud resume, re-sync, certified serve to budget") {
    val dirA = freshStore("graft_e2e_a", n = 50L)
    val dirB = freshStore("graft_e2e_b", n = 30L, salt = 5L)
    val stores = Seq(("web", dirA, 3L), ("code", dirB, 1L))
    val totA = LoaderSchedule.storeStamp(spark, dirA).nTokens
    val totB = LoaderSchedule.storeStamp(spark, dirB).nTokens
    val budget = (totA + totB) * 3L / 2L

    // DAY 0: build the budget plan, mint the cursor AT BUILD TIME, deal
    val plan = LoaderSchedule.planForTokensMixture(spark, stores, "run1", budget)
    val cursor0 = LoaderSchedule.mintCursor(spark, Seq(dirA, dirB), 0L)
    val dealt = LoaderSchedule.workerSlices(plan, 4).collect()
    assert(dealt.map(_.getAs[Long]("worker")).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L))

    // consume IN ORDER to ~40% of the budget; checkpoint advances the
    // cursor (Cursor.at) — never re-mints
    val ordered = dealt.sortBy(_.getAs[Long]("ord"))
    val consumed = ordered.takeWhile(_.getAs[Long]("cum_tokens") < budget * 2L / 5L)
    assert(consumed.nonEmpty && consumed.length < ordered.length)
    val ckptTokens = consumed.last.getAs[Long]("cum_tokens")
    val cursor = cursor0.at(ckptTokens)

    // CRASH. While the trainer is down, the ingest lands a batch on ONE
    // domain — the exact drift resumeFromChecked exists to catch.
    val extra = docs(6L, salt = 9L).map { case (i, t, ids) => (i + 5000L, t, ids) }
      .toDF("id", "tok", "ids")
    val packedExtra = SequencePacking
      .packSequences(extra, "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.appendShards(packedExtra, dirA, batchKey = "e2e#day1")

    // RESTART: the checked resume fails loud, naming the drift
    val ex = intercept[IllegalArgumentException] {
      LoaderSchedule.resumeFromChecked(spark, Seq(dirA, dirB), plan, cursor)
    }
    assert(ex.getMessage.contains("drifted"), ex.getMessage)

    // DELIBERATE re-sync (the documented path): after append-only growth
    // the consumed-token count is a sound lower bound — rebuild the plan
    // over the grown stores, re-mint at the checkpoint position, resume
    val plan2 = LoaderSchedule.planForTokensMixture(spark, stores, "run1", budget)
    val cursor2 = LoaderSchedule.mintCursor(spark, Seq(dirA, dirB), ckptTokens)
    val rem = LoaderSchedule.resumeFromChecked(spark, Seq(dirA, dirB), plan2, cursor2)
      .orderBy("ord").collect()
    assert(rem.nonEmpty)
    // consumed prefix ∪ resumed tail == the rebuilt plan, exactly
    assert(plan2.count() ==
      rem.length + plan2.where(col("cum_tokens") <= ckptTokens).count())
    // the resumed tail re-deals to a different worker count — a re-map
    val sizes = LoaderSchedule.workerSlices(
        LoaderSchedule.resumeFromChecked(spark, Seq(dirA, dirB), plan2, cursor2), 3)
      .groupBy("worker").count().collect().map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1L, s"unbalanced re-deal: ${sizes.mkString(",")}")

    // SERVE to budget exhaustion through certified readShard: read each
    // referenced (domain, shard) ONCE; every scheduled bin must exist
    // with the scheduled token count (the appended bins included)
    val byPath = Map("web" -> dirA, "code" -> dirB)
    val shardBins: Map[(String, Long), Map[Long, Long]] =
      rem.map(r => (r.getAs[String]("domain"), r.getAs[Long]("shard")))
        .distinct.map { case (d, sh) =>
          (d, sh) -> SequencePacking.readShard(spark, byPath(d), sh)
            .select("bin_id", "bin_tokens").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
        }.toMap
    // the tail begins at the REBUILT plan's consumed-prefix boundary —
    // the last bin wholly inside the cursor (a mid-bin cursor re-reads
    // its bin, the documented resume semantics), not at the raw cursor
    val prefixEnd = plan2.where(col("cum_tokens") <= ckptTokens)
      .agg(coalesce(max("cum_tokens"), lit(0L))).head().getLong(0)
    var served = prefixEnd
    rem.foreach { r =>
      val bins = shardBins((r.getAs[String]("domain"), r.getAs[Long]("shard")))
      val binId = r.getAs[Long]("bin_id")
      assert(bins.contains(binId), s"scheduled bin $binId missing from its shard")
      assert(bins(binId) == r.getAs[Long]("n_tokens"), s"token count drift on bin $binId")
      served += bins(binId)
    }
    // the serve's running total agrees with the plan's coordinates, the
    // budget is REACHED, and the boundary is exact (last bin crosses T)
    assert(served == rem.last.getAs[Long]("cum_tokens"))
    assert(rem.last.getAs[Long]("cum_tokens") >= budget, "the plan must reach the budget")
    assert(rem.init.last.getAs[Long]("cum_tokens") < budget, "the cut must be exact")
  }

  test("cursor stamps match across path spellings of the same store (ADVICE r16)") {
    val dir = freshStore("graft_lnorm")
    val sched = LoaderSchedule.epochSchedule(spark, dir, "pn")
    val n = sched.count()
    // minted with a trailing slash; resumed with the plain spelling
    val cursor = LoaderSchedule.mintCursor(spark, Seq(dir + "/"), 0L)
    assert(LoaderSchedule.resumeFromChecked(spark, Seq(dir), sched, cursor).count() == n)
    // ...and with a relative spelling of the same directory
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(dir)).toString
    assert(LoaderSchedule.resumeFromChecked(spark, Seq(rel), sched, cursor).count() == n)
    // a GENUINELY different store still reads as a different store set
    val other = freshStore("graft_lnorm_other")
    val ex = intercept[IllegalArgumentException] {
      LoaderSchedule.resumeFromChecked(spark, Seq(other), sched, cursor)
    }
    assert(ex.getMessage.contains("different store set"), ex.getMessage)
    // URI-style paths only lose a trailing slash (never resolved locally)
    val uriCur = LoaderSchedule.Cursor(0L,
      Seq("hdfs://nn/stores/a" -> LoaderSchedule.StoreStamp(0L, 0L, 0L)))
    val uriEx = intercept[Exception] {
      // stamp verification would need the filesystem; the SET check runs
      // first and must ACCEPT the slash variant (failure here would say
      // "different store set"; the error we get is the hdfs read attempt)
      LoaderSchedule.resumeFromChecked(spark, Seq("hdfs://nn/stores/a/"), sched, uriCur)
    }
    assert(!String.valueOf(uriEx.getMessage).contains("different store set"), uriEx.getMessage)
  }
}
