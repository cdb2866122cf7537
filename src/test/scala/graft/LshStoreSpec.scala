package graft

import graft.operators.{KnnSearch, VectorIndex}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Round-5 LSH store parity (VERDICT r3 item 3): the bucket-partitioned
  * store shares the IVF store's CRUD machinery — metadata-in-layout,
  * generational upsert, tombstone delete, single-gen manifest, compaction
  * — through the same layout-parameterized code path. */
class LshStoreSpec extends SparkSpec {

  // the LSH store's nprobe is the multi-probe Hamming radius: radius =
  // nPlanes probes every bucket → the probe is an exact scan
  private val fullProbe = 8

  test("lsh store lifecycle: append resolves latest gen, delete tombstones, compact folds") {
    import spark.implicits._
    val path = Files.createTempDirectory("lsh_lifecycle").toString
    VectorIndex.writeLshStore(spark, sfDir, path)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val noSelf = Some(col("vec_id") =!= 0L)
    val nBase = spark.read.parquet(s"$path/vectors").count()

    // a brand-new id whose embedding IS the query vector must become top-1
    val newId = 1000000L
    VectorIndex.appendStore(spark, path,
      Seq((newId, 9, qv.toSeq)).toDF("vec_id", "label", "embedding"), gen = 1L)
    val top = VectorIndex.searchStore(spark, path, qv, k = 1,
      nprobe = fullProbe, filter = noSelf).collect()
    assert(top.head.getLong(0) == newId && top.head.getDouble(3) == 1.0)

    // update an existing id: its latest generation (new label) must win
    VectorIndex.appendStore(spark, path,
      Seq((1L, 7, qv.toSeq)).toDF("vec_id", "label", "embedding"), gen = 2L)
    val res = VectorIndex.searchStore(spark, path, qv, k = 3,
      nprobe = fullProbe, filter = noSelf).collect()
    val v1 = res.find(_.getLong(0) == 1L).get
    assert(v1.getInt(1) == 7 && v1.getDouble(3) == 1.0)
    assert(res.map(_.getLong(0)).distinct.length == res.length)

    // appends land in the delta, not the 256-directory base layout
    assert(spark.read.parquet(s"$path/vectors").count() == nBase)
    assert(spark.read.parquet(s"$path/vectors_delta").count() == 2)
    VectorIndex.deleteFromStore(spark, path, Seq(newId), gen = 3L)
    val afterDel = VectorIndex.searchStore(spark, path, qv, k = 3,
      nprobe = fullProbe, filter = noSelf)
      .collect().map(_.getLong(0))
    assert(!afterDel.contains(newId))
    VectorIndex.compactStore(spark, path)
    val vecs = spark.read.parquet(s"$path/vectors")
    assert(vecs.where(col("deleted")).count() == 0)
    assert(vecs.where(col("vec_id") === newId).count() == 0)
    assert(vecs.where(col("vec_id") === 1L).count() == 1)
    assert(vecs.agg(max(col("gen"))).head.getLong(0) == 0L)
    val afterCompact = VectorIndex.searchStore(spark, path, qv, k = 3,
      nprobe = fullProbe, filter = noSelf)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(afterCompact.head == ((1L, 1.0)))
  }

  test("json-filtered pruned probe on the lsh store keeps partition pruning") {
    val path = VectorIndex.ensureLshStore(spark, sfDir)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val enFilter = get_json_object(col("metadata"), "$.lang") === "en" &&
      col("vec_id") =!= 0L
    val probe = VectorIndex.searchStore(spark, path, qv, k = 10,
      nprobe = 2, filter = Some(enFilter))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket_grp"),
      s"bucket pruning lost under the JSON filter:\n$plan")
    val rows = probe.collect()
    assert(rows.nonEmpty)
    val enIds = Tables.documents(spark, sfDir)
      .where(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    rows.foreach(r => assert(enIds.contains(r.getLong(0))))
    // at full probe the result matches the exact JSON-filtered search
    val storedFull = VectorIndex.searchStore(spark, path, qv, k = 10,
      nprobe = fullProbe, filter = Some(enFilter))
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val exact = KnnSearch.topKJsonFiltered(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(storedFull == exact)
  }

  test("streaming ingest upserts micro-batches into the lsh store as generations") {
    import spark.implicits._
    val path = Files.createTempDirectory("lsh_stream_store").toString
    VectorIndex.writeLshStore(spark, sfDir, path)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)

    val dir = Files.createTempDirectory("lsh_vec_stream").toString
    Seq((3000000L, 8, qv.toSeq), (3000001L, 9, qv.toSeq))
      .toDF("vec_id", "label", "embedding")
      .repartition(2)
      .write.mode("overwrite").json(dir)

    val q = graft.streaming.StoreStream.ingest(spark, dir, path,
      startGen = 1L,
      checkpointDir = Files.createTempDirectory("lsh_stream_ckpt").toString)
    try q.processAllAvailable()
    finally q.stop()

    val top = VectorIndex.searchStore(spark, path, qv, k = 2,
      nprobe = fullProbe, filter = Some(col("vec_id") =!= 0L)).collect()
    assert(top.map(_.getLong(0)).toSet == Set(3000000L, 3000001L))
    assert(top.forall(_.getDouble(3) == 1.0))
  }

  test("lsh store single-gen fast path: no exchange fresh, resolution after append, restored by compact") {
    import spark.implicits._
    val path = Files.createTempDirectory("lsh_singlegen").toString
    VectorIndex.writeLshStore(spark, sfDir, path)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)

    def plan(): String =
      VectorIndex.searchStore(spark, path, qv, k = 10, nprobe = 2)
        .queryExecution.executedPlan.toString
    def result(): Seq[(Long, Double)] =
      VectorIndex.searchStore(spark, path, qv, k = 10, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq

    assert(VectorIndex.isSingleGen(spark, path))
    assert(!plan().contains("Exchange"),
      s"fresh lsh store probe should skip generation resolution:\n${plan()}")
    val fresh = result()

    val batch = Seq((9999L, 7, Array.fill(64)(0.01f).toSeq))
      .toDF("vec_id", "label", "embedding")
    VectorIndex.appendStore(spark, path, batch, gen = 1L)
    assert(!VectorIndex.isSingleGen(spark, path))
    assert(plan().contains("Exchange"),
      "merge-on-read lsh store must resolve generations")

    VectorIndex.compactStore(spark, path)
    assert(VectorIndex.isSingleGen(spark, path))
    assert(!plan().contains("Exchange"),
      s"compacted lsh store probe should skip generation resolution:\n${plan()}")
    // the appended vector is near-zero, far from the query: top-10 unchanged
    assert(result() == fresh)
  }

  test("batch lsh probe equals per-query store probes; one scan, broadcast probe table") {
    import org.apache.spark.sql.functions.col
    val path = VectorIndex.ensureLshStore(spark, sfDir)
    val batch = VectorIndex.batchSearchStore(spark, sfDir, path, nprobe = 2)
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket_grp"),
      "the shared scan must prune at the union of all probe sets")
    assert(plan.contains("BroadcastHashJoin"),
      "the (query, bucket) probe table must broadcast against the pruned scan")
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expected = (0L until 5L).flatMap { q =>
      val qv = graft.operators.KnnSearch.queryVector(spark, sfDir, q)
      VectorIndex.searchStore(spark, path, qv, k = 5,
        nprobe = 2, filter = Some(col("vec_id") >= 5))
        .collect().map(r => (q, r.getLong(0), r.getDouble(3)))
    }
    assert(got.sorted == expected.sorted)
  }

  test("lsh store MMR at full probe equals the exact-scan MMR") {
    // radius nPlanes probes every bucket, so the fetchK candidate set is
    // the exact top-fetchK and the shared greedy must select the same
    // sequence as the inline retriever-mode MMR (knn_mmr's oracle)
    val path = VectorIndex.ensureLshStore(spark, sfDir)
    val stored = VectorIndex.corpusMmrStore(spark, sfDir, path,
      nprobe = fullProbe)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
    val exact = KnnSearch.mmrTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
    assert(exact.nonEmpty)
    assert(stored.toSeq == exact.toSeq)
    // the graded radius (nprobe = 2) still fills k from the multi-probe
    // neighborhood and selects rank-1 = the best probed hit
    val pruned = VectorIndex.corpusMmrStore(spark, sfDir, path, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)))
    assert(pruned.length == 10)
    assert(pruned.map(_._2).toSeq == (1 to 10))
  }

  test("compactStore(retrain = true) on an lsh store is rejected, not ignored") {
    val path = Files.createTempDirectory("lsh_retrain").toString
    VectorIndex.writeLshStore(spark, sfDir, path)
    val e = intercept[IllegalArgumentException](
      VectorIndex.compactStore(spark, path, retrain = true))
    assert(e.getMessage.contains(path) && e.getMessage.contains("LSH"),
      e.getMessage)
    // the rejected call released its writer lease: a plain compaction runs
    VectorIndex.compactStore(spark, path)
    assert(VectorIndex.isSingleGen(spark, path))
  }

  test("a store rebuilt at its path with the other layout serves the new layout") {
    val path = Files.createTempDirectory("relayout").toString
    VectorIndex.writeStore(spark, sfDir, path)
    VectorIndex.writeLshStore(spark, sfDir, path)
    assert(!Files.exists(java.nio.file.Paths.get(path, "centroids")))
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val res = VectorIndex.searchStore(spark, path, qv, k = 3, nprobe = 2)
    assert(res.columns.contains("bucket"), res.columns.mkString(","))
    assert(res.collect().length == 3)
  }

  test("lsh threshold search at full probe equals the exact threshold scan") {
    val path = VectorIndex.ensureLshStore(spark, sfDir)
    val qv = KnnSearch.queryVector(spark, sfDir, 0L)
    val stored = VectorIndex.searchStore(spark, path, qv,
      nprobe = fullProbe, filter = Some(col("vec_id") =!= 0L),
      scoreThreshold = Some(0.2))
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSet
    val exact = KnnSearch.aboveThreshold(spark, sfDir, 0.2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(exact.nonEmpty)
    assert(stored == exact,
      s"store/exact diff: ${stored.diff(exact)} / ${exact.diff(stored)}")
    // graded radius (nprobe = 2): hits are a subset of the exact
    // threshold set — the probe's recall contract
    val pruned = VectorIndex.corpusSearchStore(spark, sfDir, path,
      nprobe = 2, scoreThreshold = Some(0.2))
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSet
    assert(pruned.nonEmpty && pruned.subsetOf(exact))
  }

  test("annEvalLsh's summary equals the hand-joined recall of its two inputs") {
    // the LSH family of the single annEval: the graded radius-2 batch probe
    val exact = graft.operators.KnnSearch.batchTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val probe = VectorIndex.batchSearchStore(spark, sfDir,
      VectorIndex.ensureLshStore(spark, sfDir), nprobe = 2)
    val approx = probe
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val recalls = exact.map { case (q, es) =>
      val a = approx.getOrElse(q, Array.empty).map(_._2).toSet
      es.count(e => a.contains(e._2)).toDouble / 5.0
    }.toSeq
    val r = VectorIndex.annEval(spark, sfDir, probe).collect().head
    assert(r.getLong(0) == recalls.size)
    assert(math.abs(r.getDouble(2) - recalls.sum / recalls.size) < 1e-9)
    assert(math.abs(r.getDouble(3) - recalls.min) < 1e-9)
  }
}
