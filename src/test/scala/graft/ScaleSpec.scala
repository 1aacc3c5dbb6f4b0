package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.Dedup
import graft.util.{IntermediateCaches, Lineage, Skew}
import graft.util.Lineage.Mode

/** Scale-path plumbing: skew-salted self-join equivalence and runtime
  * bloom-filter pruning of a selective fact join. */
class ScaleSpec extends AnyFunSuite {
  import SharedSpark._
  import spark.implicits._

  test("Lineage.cut: same rows, constant-depth plan, usable after release") {
    // the iterative-loop guard (CC rounds, BPE merge learning): the cut
    // frame must carry identical data behind a LEAF logical plan — no
    // trace of the original lineage — and must still evaluate after its
    // cache is released (row-level recompute walks the RDD chain)
    val base = (1L to 100L).toDF("id")
      .select(col("id"), (col("id") * 2).as("v"))
      .filter(col("id") % 3 =!= 0)
    // other suites share this session and may hold their own tracked
    // caches; assert release only over the RDDs THIS test creates
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val cut = Lineage.cut(base)
    try {
      assert(cut.schema == base.schema)
      assert(cut.collect().toSeq.sortBy(_.getLong(0)) ==
        base.collect().toSeq.sortBy(_.getLong(0)))
      // leaf plan: one node, no Filter/Project lineage carried
      val logical = cut.queryExecution.logical
      assert(logical.children.isEmpty, s"cut plan is not a leaf:\n$logical")
      // 30 stacked rounds stay flat: each cut's plan is again a leaf
      var f = cut
      var frames = List(cut)
      for (_ <- 1 to 30) {
        f = Lineage.cut(f.select(col("id"), (col("v") + 1).as("v")))
        frames ::= f
      }
      assert(f.queryExecution.logical.children.isEmpty)
      assert(f.agg(sum(col("v"))).collect().head.getLong(0) ==
        base.agg(sum(col("v") + 30)).collect().head.getLong(0))
      frames.foreach(Lineage.release(_, blocking = true))
      // released but still usable
      assert(f.count() == base.count())
      val leftover = spark.sparkContext.getPersistentRDDs.keySet -- preexisting
      assert(leftover.isEmpty, s"cut RDDs survive release: $leftover")
    } finally Lineage.release(cut, blocking = true)
  }

  test("Lineage.sever: local and reliable modes agree; reliable survives release") {
    val base = (1L to 100L).toDF("id")
      .select(col("id"), (col("id") * 7 % 13).as("v"))
      .filter(col("id") % 4 =!= 0)
    val expect = base.collect().toSeq.sortBy(_.getLong(0))

    // local mode (this suite's local master): leaf plan, identical rows
    val loc = Lineage.sever(base)
    assert(loc.queryExecution.logical.children.isEmpty)
    assert(loc.collect().toSeq.sortBy(_.getLong(0)) == expect)
    Lineage.release(loc, blocking = true)

    // the reliable mode (what a non-local master with a checkpoint dir
    // decides), forced here: without a checkpoint dir it must fail FAST
    // at sever time
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      intercept[IllegalArgumentException] { Lineage.sever(base, Mode.Reliable) }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    // a checkpoint dir alone does not switch a local master to reliable
    assert(Lineage.gate(base.limit(0)) == Mode.Lazy)
    val rel = Lineage.sever(base, Mode.Reliable)
    assert(rel.queryExecution.logical.children.isEmpty)
    assert(rel.collect().toSeq.sortBy(_.getLong(0)) == expect)
    // the fault-tolerance contract: blocks live in DURABLE storage —
    // files exist under the checkpoint dir, and the frame stays
    // usable after its release (recompute reads the files; the local
    // mode's release is destructive by contrast)
    def files(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
    assert(files(dir) > 0, "reliable sever wrote no checkpoint files")
    Lineage.release(rel, blocking = true)
    assert(rel.collect().toSeq.sortBy(_.getLong(0)) == expect,
      "reliable-severed frame must survive its release")
  }

  test("Lineage policy: (local master, checkpoint dir, input estimate) -> mode") {
    val below = Some(BigInt(Lineage.SeverBytes - 1))
    val above = Some(BigInt(Lineage.SeverBytes))
    // (local master?, checkpoint dir set?, gated estimate) -> mode;
    // None is an ungated sever
    val table = Seq(
      (true, false, below) -> Mode.Lazy,
      (true, true, below) -> Mode.Lazy,
      (false, false, below) -> Mode.Lazy,
      (false, true, below) -> Mode.Lazy,
      (true, false, above) -> Mode.Local,
      (true, true, above) -> Mode.Local,
      (false, false, above) -> Mode.Local,
      (false, true, above) -> Mode.Reliable,
      (true, false, None) -> Mode.Local,
      (true, true, None) -> Mode.Local,
      (false, false, None) -> Mode.Local,
      (false, true, None) -> Mode.Reliable)
    for (((local, ckpt, est), want) <- table)
      assert(Lineage.decide(local, ckpt, est) == want,
        s"local=$local checkpointDir=$ckpt estimate=$est")
    // the session reading: a tiny input on this local master stays lazy
    assert(Lineage.gate((1L to 10L).toDF("id")) == Mode.Lazy)
  }

  test("Lineage.release frees one frame early, exactly once") {
    val base = (1L to 50L).toDF("id").select(col("id"), (col("id") % 7).as("v"))
    val before = IntermediateCaches.trackedCount
    val r = Lineage.reuse(base)
    r.count()
    assert(r.storageLevel != StorageLevel.NONE)
    assert(IntermediateCaches.trackedCount == before + 1)
    Lineage.release(r, blocking = true)
    assert(r.storageLevel == StorageLevel.NONE)
    assert(IntermediateCaches.trackedCount == before)
    // idempotent: a second release (or releaseAll later) is a no-op
    Lineage.release(r, blocking = true)
    assert(IntermediateCaches.trackedCount == before)
    // a lazy sever is the input itself and registers nothing
    assert(Lineage.sever(base, Mode.Lazy) eq base)
    assert(IntermediateCaches.trackedCount == before)
  }

  test("saltedSelfJoinPairs == plain self-join pairs, every salt") {
    // skewed buckets on purpose: one hot bucket with 12 members
    val rows = (Seq.tabulate(12)(i => (i.toLong, "hot")) ++
      Seq((100L, "b1"), (101L, "b1"), (200L, "b2"), (300L, "solo")))
      .toDF("doc", "bucket")
    val plain = rows.as("x").join(rows.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.size == 12 * 11 / 2 + 1)
    for (salt <- Seq(1, 2, 3, 5, 8)) {
      val salted = Skew.saltedSelfJoinPairs(rows, Seq("bucket"), "doc", salt)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(salted == plain, s"salt=$salt: ${salted.size} vs ${plain.size}")
    }
  }

  test("minhash LSH candidates identical with and without banding salt") {
    val docs = Tables.documents(spark, sf0001)
    val unsalted = Dedup.minhashLshCandidates(docs, n = 3, numHashes = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = Dedup.minhashLshCandidates(docs, n = 3, numHashes = 64, bands = 16,
        salt = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unsalted.nonEmpty && salted == unsalted)
  }

  test("star contraction == min-label on mixed chains/cliques/pairs") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),                            // path of 3
      (10L, 11L),                                    // pair
      (20L, 21L), (21L, 22L), (20L, 22L),            // triangle
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L) // chain (diameter 4)
    ).toDF("doc_a", "doc_b")
    val minlabel = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.connectedComponents(pairs, algorithm = "star")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == minlabel)
    graft.util.IntermediateCaches.releaseAll(blocking = true)
  }

  test("star contraction == min-label on the gate corpus near-dup graph") {
    val docs = Tables.documents(spark, sf0001)
    val pairs = Dedup.minhashLshPairs(docs, n = 3, threshold = 0.5)
    val minlabel = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.connectedComponents(pairs, algorithm = "star")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(minlabel.nonEmpty && star == minlabel)
    graft.util.IntermediateCaches.releaseAll(blocking = true)
  }

  test("star contraction collapses a diameter-999 chain within 20 rounds; min-label throws loudly past its round budget") {
    // 1000 nodes in a single path, ids permuted so labels can't ride the
    // edge direction: min-label needs ~999 rounds (one hop per round),
    // star contraction O(log² n). 919 is coprime with 1000 ⇒ permutation.
    val perm = (0 until 1000).map(i => (i * 919) % 1000)
    val chain = (0 until 999).map(i => (perm(i).toLong, perm(i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val star = Dedup.connectedComponents(chain, maxIters = 20, algorithm = "star")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(star.length == 1000 && star.forall(_._2 == 0L))
    // the silent-partial-clustering guard: min-label must THROW when the
    // diameter exceeds the round budget, never return unconverged labels
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 10)
    }
    assert(e.getMessage.contains("did not converge"))
    graft.util.IntermediateCaches.releaseAll(blocking = true)
  }

  test("triangle partitioning spreads a hot bucket's pair work across cells") {
    // 40-doc hot bucket: unsalted, all C(40,2)=780 candidate pairs are
    // generated under ONE shuffle key. With salt=4 the work lands on the
    // 10 upper-triangle chunk cells; no cell may hold more than a
    // fraction — the straggler-split claim, checked against the actual
    // chunk assignment (pmod(xxhash64(id), salt), same as Skew's).
    val hot = (0 until 40).map(_.toLong)
    val salt = 4
    val chunkOf = hot.toDF("id")
      .select(col("id"), pmod(xxhash64(col("id")), lit(salt)).cast("int").as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cellLoad = hot.combinations(2).toSeq
      .groupBy { case Seq(a, b) =>
        val (ca, cb) = (chunkOf(a), chunkOf(b))
        (math.min(ca, cb), math.max(ca, cb))
      }.map { case (cell, ps) => cell -> ps.size }
    val worst = cellLoad.values.max
    assert(cellLoad.values.sum == 780)
    // perfect spread would be 780/10 = 78/cell; allow hash imbalance but
    // require the straggler to shrink by >3x vs the unsalted single task
    assert(worst < 260, s"hot-bucket straggler not split: worst cell $worst of 780")
    // and the salted operator still returns exactly the right pairs
    val df = hot.map((_, "hot")).toDF("doc", "bucket")
    val got = Skew.saltedSelfJoinPairs(df, Seq("bucket"), "doc", salt).count()
    assert(got == 780)
  }

  test("IntermediateCaches.releaseAll unpersists exactly the operator-internal caches") {
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf0001)
    Dedup.minhashLshPairs(docs, n = 3, threshold = 0.5).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "minhashLshPairs should have registered a persisted candidate set")
    IntermediateCaches.releaseAll(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseAll must leave no operator-internal cache behind")
    assert(IntermediateCaches.trackedCount == 0)
  }

  test("cosineLshPairs on an empty corpus returns an empty frame with the right schema") {
    val empty = spark.emptyDataset[(Long, Array[Float])].toDF("vec_id", "embedding")
    val out = graft.similarity.Ann.cosineLshPairs(empty, 0.5)
    assert(out.columns.toSeq == Seq("va", "vb", "sim"))
    assert(out.count() == 0)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // 100 TB shape: a selective dimension filter (part, p_size < 3)
    // should reach the fact scan (lineitem) as a row-level bloom filter
    // when neither side broadcasts — Catalyst's InjectRuntimeFilter does
    // this without any operator-side code, PROVIDED the join is a
    // shuffle join and the creation side is filtered & small. This spec
    // pins the behavior (and the config surface) so the capability is
    // demonstrated and guarded.
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
        spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.getOption(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // the gate: app side must look big enough to be worth filtering —
    // local test files are far below the 10 GB default
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val li = Tables.lineitem(spark, sf0001)
      val part = Tables.part(spark, sf0001).filter(col("p_size") < 3)
      val joined = li.join(part, li("l_partkey") === part("p_partkey"))
        .groupBy(col("p_size")).agg(sum(col("l_quantity")).as("qty"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloom"),
        s"expected an injected bloom filter in:\n$plan")
      assert(joined.count() > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
