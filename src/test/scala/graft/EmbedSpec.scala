package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.EmbedQueries

/** Quality properties of the ANN scale path that the bit-exact oracle gate
  * can't express:
  *  - true duplicates are NEVER missed (identical vectors share every
  *    hyperplane bit, so they always meet in the probe-0 bucket and the
  *    exact dot ranks the duplicate first) — the guarantee the near-dup
  *    pipeline leans on;
  *  - measured recall vs the brute-force baseline on the real (near-random)
  *    embeddings, reported and floor-asserted. Random vectors are the
  *    WORST case for LSH (top-k is noise), so the floor is modest; real
  *    embedding corpora are clustered and bucket recall rises with them.
  */
class EmbedSpec extends AnyFunSuite with SparkSuite {

  def ann = EmbedQueries.defs.find(_.name == "e_ann_topk").get
  def brute = EmbedQueries.defs.find(_.name == "e_topk_mips").get

  test("planted exact duplicates are always found at rank 1") {
    import spark.implicits._
    // 40 deterministic sign-pattern vectors; vec 25 duplicates vec 0 and
    // vec 30 duplicates vec 5 — both dups of query ids (vec_id % 25 == 0
    // picks 0 and 25; 0's dup is 25, 25's dup is 0)
    def pat(seed: Int): Seq[Float] = (0 until 64).map { d =>
      if (graft.core.PortableHash.h60(s"es:$seed:$d") % 2 == 0) 1.0f else -1.0f
    }
    val vecs = (0 until 40).map { i =>
      val base = if (i == 25) 0 else if (i == 30) 5 else i
      (i.toLong, pat(base), 0L)
    }
    val dir = Files.createTempDirectory("embedspec").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = ann.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // query 0 -> duplicate 25 at rank 1, and vice versa (dot = 64e6 >> rest)
    assert(got.contains((0L, 1L, 25L)), got.mkString(","))
    assert(got.contains((25L, 1L, 0L)), got.mkString(","))
  }

  test("recall vs brute force on the real embeddings, exact dots within bucket") {
    val dir = "/root/testdata/sf0.001"
    val a = ann.fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val b = brute.fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    // any (qid, pid) both report carries the SAME exact integer dot
    val shared = a.keySet intersect b.keySet
    assert(shared.forall(k => a(k) == b(k)))
    val recall = shared.size.toDouble / b.size
    info(f"ANN recall@3 vs brute force on near-random vectors: $recall%.2f (${shared.size}/${b.size})")
    assert(recall >= 0.05, f"recall collapsed: $recall%.2f")
  }

  test("recall on clustered embeddings (the realistic corpus shape) is high") {
    import spark.implicits._
    // 500 vectors in 20 tight clusters: centroid components are +-1.0 sign
    // patterns, members add +-0.05 noise — so same-cluster vectors almost
    // always share hyperplane signs and meet in the probe buckets. This is
    // the geometry of real embedding corpora (which cluster), vs the
    // near-random sf0.001 vectors of the floor test above (LSH worst case).
    def centroid(c: Int): IndexedSeq[Float] = (0 until 64).map { d =>
      if (graft.core.PortableHash.h60(s"cc:$c:$d") % 2 == 0) 1.0f else -1.0f
    }
    val vecs = (0 until 500).map { i =>
      val c = i % 20
      val base = centroid(c)
      val v = (0 until 64).map { d =>
        base(d) + (graft.core.PortableHash.h60(s"cn:$i:$d") % 101 - 50) / 1000.0f
      }
      (i.toLong, v, c.toLong)
    }
    val dir = Files.createTempDirectory("embedclu").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val a = ann.fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val b = brute.fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (a intersect b).size.toDouble / b.size
    info(f"ANN recall@3 on 20-cluster corpus: $recall%.2f (${(a intersect b).size}/${b.size})")
    assert(recall >= 0.6, f"clustered recall too low: $recall%.2f")
    // the IVF family on the same clustered corpus: sampled centroids land
    // in clusters proportionally to mass, so 2-list probing finds the
    // same-cluster neighbourhood
    val ivf = EmbedQueries.ivfTopk(spark, dir, None).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfRecall = (ivf intersect b).size.toDouble / b.size
    info(f"IVF recall@3 on 20-cluster corpus: $ivfRecall%.2f (${(ivf intersect b).size}/${b.size})")
    assert(ivfRecall >= 0.5, f"clustered IVF recall too low: $ivfRecall%.2f")
    // PQ-ADC on the same corpus: same-cluster vectors quantize to (near-)
    // identical codes, so every retrieved neighbour should share the
    // query's cluster label — the semantically right check for a coarse
    // quantizer (exact-rank overlap is tie-broken arbitrarily inside a
    // cluster where all members share codes and hence adist).
    val labelOf = vecs.map(t => t._1 -> t._3).toMap
    val pq = EmbedQueries.pqTopk(spark, dir).collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(pq.nonEmpty)
    val agree = pq.count { case (q, p) => labelOf(q) == labelOf(p) }.toDouble / pq.size
    info(f"PQ-ADC same-cluster agreement@3: $agree%.2f (${pq.size} results)")
    assert(agree >= 0.9, f"PQ cluster agreement too low: $agree%.2f")
    // IVF-PQ composed: pruning must not break the cluster semantics (same
    // agreement bar as flat PQ), and the probed candidate sets must
    // actually prune — each query scans ~2n/nlist candidates, not n.
    val ivfpq = EmbedQueries.ivfPqTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(ivfpq.nonEmpty)
    val agree2 = ivfpq.count { case (q, p) => labelOf(q) == labelOf(p) }.toDouble / ivfpq.size
    info(f"IVF-PQ same-cluster agreement@3: $agree2%.2f (${ivfpq.size} results)")
    assert(agree2 >= 0.9, f"IVF-PQ cluster agreement too low: $agree2%.2f")
  }

  test("IVF-PQ candidate sets are pruned to the probed lists") {
    val dir = "/root/testdata/sf0.01"
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = v.count()
    // replay the assignment: candidates per query = members of its <=2
    // probed lists; with nlist ~ sqrt(n) lists the mean is ~2*sqrt(n).
    import org.apache.spark.sql.functions._
    val q = EmbedQueries.quantized(spark, dir)
    val cent = EmbedQueries.centroids(q, EmbedQueries.ivfNlist(n))
    val counts = q.crossJoin(broadcast(cent))
      .withColumn("dist", graft.plans.LongDot(col("v"), col("v")) -
        lit(2L) * graft.plans.LongDot(col("v"), col("c")) +
        graft.plans.LongDot(col("c"), col("c")))
      .withColumn("crk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("dist"), col("j"))))
      .filter(col("crk") === 1).groupBy("j").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val maxList = counts.values.max
    info(s"n=$n nlist=${EmbedQueries.ivfNlist(n)} lists=${counts.size} maxList=$maxList")
    // worst query scans 2 * maxList candidates — far below the n a flat
    // PQ scan pays; the bound that holds the shape at 10^12 vectors
    assert(2 * maxList < n, s"pruning degenerate: 2*$maxList >= $n")
  }

  test("IVF stays correct across nlist configurations; list balance logged") {
    val dir = "/root/testdata/sf0.01"
    // exact-dot consistency vs brute force at BOTH forced list counts:
    // any (qid,pid) pair reported by both carries the same exact dot, and
    // the planted-style guarantee holds (a vector identical to a query is
    // assigned to the query's own list -> found at rank 1 if present)
    val b = brute.fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    for (nl <- Seq(16, 64)) {
      val got = EmbedQueries.ivfTopk(spark, dir, Some(nl)).collect()
      assert(got.nonEmpty, s"nlist=$nl produced nothing")
      val m = got.map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
      val shared = m.keySet intersect b.keySet
      assert(shared.forall(k => m(k) == b(k)), s"dot mismatch at nlist=$nl")
      // each query returns at most k=3 ranked rows
      assert(got.groupBy(_.getLong(0)).forall(_._2.length <= 3))
      val (nlist, lists, mx, mn) = EmbedQueries.ivfListStats(spark, dir, Some(nl))
      info(s"nlist=$nlist: $lists non-empty lists, sizes [$mn, $mx]")
      assert(lists > 1, "assignment collapsed to one list")
    }
    val (nlA, listsA, mxA, mnA) = EmbedQueries.ivfListStats(spark, dir, None)
    info(s"adaptive nlist=$nlA (round(sqrt(n))): $listsA non-empty lists, sizes [$mnA, $mxA]")
  }

  test("scaled ANN recall vs brute force at the same mult") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val mult = 10
    val a = EmbedQueries.annTopkScaled(spark, dir, mult).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // independent all-pairs reference over the identical replicated corpus,
    // rebuilt here from the raw embeddings with the same deterministic
    // perturbation (not through the operator under test)
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("v"))
      .withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
      .select((col("vec_id") * mult + col("rep")).as("vec_id"),
        expr(s"transform(v, (x, i) -> CASE WHEN i = CAST(rep % 64 AS INT) THEN x + rep % 7 - 3 ELSE x END)").as("v"))
    val q = base.filter(col("vec_id") % (25L * mult) === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("pid"))
    val b = broadcast(q)
      .join(base.select(col("vec_id").as("pid"), col("v").as("pv")), col("pid") =!= col("qid"))
      .withColumn("dot", expr("aggregate(zip_with(qv, pv, (x, y) -> x * y), 0L, (acc, t) -> acc + t)"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("pid"))).toSet
    val recall = (a intersect b).size.toDouble / b.size
    info(f"scaled-ANN recall@3 vs brute at mult=$mult: $recall%.2f (${(a intersect b).size}/${b.size})")
    // replicas differ by +-3 milli-units on one dim: a query's top
    // neighbours are its own replicas, which share its bucket — so recall
    // on the replicated corpus must be high, not the near-random floor
    assert(recall >= 0.6, f"scaled recall collapsed: $recall%.2f")
  }

  test("IVF centroid derivation stays inside the plan — no driver collect") {
    val df = EmbedQueries.ivfTopk(spark, "/root/testdata/sf0.001", Some(16))
    val plan = df.queryExecution.executedPlan.toString
    // round 3 collected the hash-ranked sample to the driver and re-created
    // it as a LocalTableScan; now the sample is a distributed
    // TakeOrderedAndProject feeding the broadcast directly
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("LocalTableScan"), plan.take(2000))
    assert(df.collect().nonEmpty)
  }

  test("two-level coarse assignment: lower-bounded by flat, high agreement") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // clustered corpus (the realistic shape — see the recall test above)
    def centroid(c: Int): IndexedSeq[Float] = (0 until 64).map { d =>
      if (graft.core.PortableHash.h60(s"hc:$c:$d") % 2 == 0) 1.0f else -1.0f
    }
    val vecs = (0 until 500).map { i =>
      val c = i % 20
      val base = centroid(c)
      val v = (0 until 64).map { d =>
        base(d) + (graft.core.PortableHash.h60(s"hn:$i:$d") % 101 - 50) / 1000.0f
      }
      (i.toLong, v, c.toLong)
    }
    val dir = Files.createTempDirectory("embedhier").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val v = EmbedQueries.quantized(spark, dir)
    val cent = EmbedQueries.centroids(v, 32).cache()
    // flat exact nearest centroid, reimplemented here independently
    def l2(x: String, y: String) = {
      def ip(p: String, q: String) =
        expr(s"aggregate(zip_with($p, $q, (x, y) -> x * y), 0L, (acc, t) -> acc + t)")
      ip(x, x) - lit(2L) * ip(x, y) + ip(y, y)
    }
    val wC = Window.partitionBy(col("vec_id")).orderBy(col("fd"), col("j"))
    val flat = v.crossJoin(broadcast(cent))
      .withColumn("fd", l2("v", "c"))
      .withColumn("rk", row_number().over(wC)).filter(col("rk") === 1)
      .select(col("vec_id"), col("j").as("fj"), col("fd"))
    // forced-small two-level configuration (ncoarse=6, probe 2)
    val hier = EmbedQueries.ivfAssignHier(v, cent, ncoarse = 6, probeCoarse = 2)
      .filter(col("crk") === 1)
      .select(col("vec_id"), col("j").as("hj"), col("dist").as("hd"))
    val both = flat.join(hier, Seq("vec_id")).collect()
    assert(both.length == 500, "every vector must get exactly one assignment")
    // exactness lower bound: the in-probe minimum can never beat the global
    // flat minimum
    assert(both.forall(r => r.getAs[Long]("fd") <= r.getAs[Long]("hd")))
    val agree = both.count(r => r.getAs[Long]("fj") == r.getAs[Long]("hj"))
    info(f"two-level assignment agreement vs flat: ${agree / 500.0}%.2f ($agree/500)")
    assert(agree >= 350, s"agreement collapsed: $agree/500")
  }

  test("ANN bucket width scales with n — per-bucket candidates stay bounded") {
    import org.apache.spark.sql.functions._
    // the derivation itself: clamp(ceil(log2(n/64)), 8, 32) via integer
    // thresholds (annBits(n) >= b iff n > 64*2^(b-1))
    assert(EmbedQueries.annBits(0) == 8)
    assert(EmbedQueries.annBits(2000) == 8)
    assert(EmbedQueries.annBits(16384) == 8)
    assert(EmbedQueries.annBits(16385) == 9)
    assert(EmbedQueries.annBits(200000) == 12)
    assert(EmbedQueries.annBits(1L << 40) == 32) // clamped to the 32 planes
    // empirically: mean bucket occupancy of the scaled corpus must NOT grow
    // linearly with mult (the round-4 fixed-8-bit defect) — with the derived
    // width it stays around the ~64 design target at every mult
    val dir = "/root/testdata/sf0.1" // 2000 base vectors
    def meanOcc(mult: Int): Double = {
      val nb = EmbedQueries.annBits(2000L * mult)
      val base = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("v"))
        .withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
        .select((col("vec_id") * mult + col("rep")).as("vec_id"),
          expr("transform(v, (x, i) -> CASE WHEN i = CAST(rep % 64 AS INT) THEN x + rep % 7 - 3 ELSE x END)").as("v"))
      val occ = base
        .select(graft.plans.HyperplaneBits(col("v"), EmbedQueries.hyperplanes32, 0, nb).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .agg(avg("n").as("m"), max("n").as("mx")).head()
      info(f"mult=$mult%3d nb=$nb: mean bucket ${occ.getDouble(0)}%.1f, max ${occ.getLong(1)}")
      occ.getDouble(0)
    }
    val m10 = meanOcc(10)   // n=20k,  nb=9
    val m100 = meanOcc(100) // n=200k, nb=12
    // 10x the data must NOT mean 10x the bucket (fixed width would give
    // exactly 10x); allow growth only up to the clustering-driven factor
    assert(m100 <= 4 * m10, f"occupancy grew ~linearly: $m10%.1f -> $m100%.1f")
  }

  test("k-means: total assignment cost improves over init; plan stays in-plan") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val fin = EmbedQueries.kmeans(spark, dir).cache()
    val n = fin.count()
    assert(n == 500 && fin.select("vec_id").distinct().count() == n)
    val nClusters = fin.select("cluster").distinct().count()
    assert(nClusters > 1, s"degenerate clustering: $nClusters cluster(s)")
    // Lloyd monotonicity on this fixture: two update rounds must not cost
    // more than assigning straight from the hash-sampled init (iters = 0)
    val costF = fin.agg(sum("dist")).head().getLong(0)
    val cost0 = EmbedQueries.kmeans(spark, dir, iters = 0)
      .agg(sum("dist")).head().getLong(0)
    info(s"cost init=$cost0 final=$costF clusters=$nClusters")
    assert(costF < cost0)
    fin.unpersist()
    // centroids derive inside the plan (no driver collect), assignment is a
    // k-row broadcast — never a shuffle of the vector side per centroid
    val plan = EmbedQueries.kmeans(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("semdedup: pairs are within-cluster, keep is closer to centroid, join is equi") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val pairs = EmbedQueries.semdedup(spark, dir).cache()
    val n = pairs.count()
    info(s"semdedup pairs on sf0.001: $n")
    assert(n > 0, "fixture threshold should yield at least one pair")
    // every (keep, drop) pair shares the pair's cluster id, and the keep
    // side is never farther from its centroid than the drop side
    val asg = EmbedQueries.kmeansAssign(spark, dir)
      .select(col("vec_id"), col("j"), col("dist"))
    val k = pairs.join(asg, pairs("keep_id") === asg("vec_id"))
      .select(col("cluster"), col("j").as("jk"), col("dist").as("dk"),
        col("keep_id"), col("drop_id"))
    val kd = k.join(asg, k("drop_id") === asg("vec_id"))
      .select(col("cluster"), col("jk"), col("dk"), col("j").as("jd"),
        col("dist").as("dd"))
    assert(kd.filter(col("jk") =!= col("cluster") || col("jd") =!= col("cluster")).count() == 0)
    assert(kd.filter(col("dk") > col("dd")).count() == 0)
    pairs.unpersist()
    // the candidate join must key on the cluster id (the bounded k-row
    // centroid broadcast inside kmeans is the one allowed nested loop);
    // any equi strategy on j is fine — at gate scale the planner may
    // broadcast one side, at scale it shuffles on j
    val plan = EmbedQueries.semdedup(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[j#".r
      .findFirstIn(plan).isDefined, plan.take(2000))
  }

  test("semdedup runs the Lloyd chain once: rounds pinned, join re-scans the pinned corpus") {
    // the a/b sides of the pair join each reference the full k-means
    // assignment; the per-round eager checkpoint guarantees the iterative
    // chain executed exactly once — the final plan may contain only the
    // argmin MAP over the pinned corpus, never the update machinery
    val df = EmbedQueries.semdedup(spark, "/root/testdata/sf0.001")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("posexplode"), p.take(1500))
    assert(p.contains("lloyd_argmin"), p.take(1500))
    assert("Scan ExistingRDD".r.findAllIn(p).length >= 2, p.take(1500))
  }

  test("cluster sample: per-cluster quota respected, ranks dense from 1") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val s5 = EmbedQueries.clusterSample(spark, dir).cache()
    val per = s5.groupBy("cluster").agg(count("*").as("c"), max("rk").as("mx"),
      min("rk").as("mn")).collect()
    assert(per.nonEmpty)
    per.foreach { r =>
      assert(r.getLong(1) <= EmbedQueries.KmSampleM)
      assert(r.getLong(2) == r.getLong(1) && r.getLong(3) == 1L,
        s"ranks not dense for cluster ${r.get(0)}: $r")
    }
    assert(s5.select("vec_id").distinct().count() == s5.count())
    s5.unpersist()
  }

  test("hot-bucket caps: nothing dropped on this corpus, diagnostics exposed") {
    val dir = "/root/testdata/sf0.01"
    val (cmax, cdrop) = EmbedQueries.cosineBucketStats(spark, dir)
    info(s"cosine band buckets: max size $cmax, dropped $cdrop (cap ${EmbedQueries.BandBucketCap})")
    assert(cdrop == 0 && cmax <= EmbedQueries.BandBucketCap)
    val (mmax, mdrop) = graft.operators.DocQueries.minhashBucketStats(spark, dir)
    info(s"minhash band buckets: max size $mmax, dropped $mdrop (cap ${graft.operators.DocQueries.LshBucketCap})")
    assert(mdrop == 0 && mmax <= graft.operators.DocQueries.LshBucketCap)
  }
}
