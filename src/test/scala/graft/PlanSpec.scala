package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions: the properties that matter at 100 TB must be
  * visible in the plan, not assumed — filters reach the parquet scan, scans
  * are column-pruned, the small dim side broadcasts, custom expressions stay
  * inside whole-stage codegen, and the salted aggregation is two-phase.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {

  // AQE off: the pre-execution explain then shows the codegen markers
  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.adaptive.enabled" -> "false")(super.withFixture(test))

  val dir = "/root/testdata/sf0.001"

  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter + projection push into the parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("tile-id expression runs inside whole-stage codegen") {
    val df = sources.ImageTable.df(spark, dir)
      .select(operators.GeoQueries.tileCol.as("tile"))
      .groupBy("tile").agg(count(lit(1)))
    val p = plan(df)
    // "* " prefixes mark operators inside whole-stage codegen
    assert(p.linesIterator.exists(l => l.trim.startsWith("* HashAggregate") || l.trim.startsWith("+- * HashAggregate")), p)
    // the scan only needs doc_id (+ text for caption is pruned away)
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("nation join broadcasts the small side") {
    val q = operators.RelationalQueries.defs.find(_.name == "q_join_pricing").get
    val p = plan(q.fn(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("salted skew aggregation is two-phase (partial agg present)") {
    val q = operators.GeoQueries.defs.find(_.name == "g_skew_agg").get
    val p = plan(q.fn(spark, dir))
    // two HashAggregate pairs: (tile,salt) then (tile)
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4, s"expected >=4 HashAggregate nodes, got $aggs\n$p")
  }

  test("hyperplane-bits and long-dot kernels stay inside codegen") {
    import spark.implicits._
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("v"))
    val df = v.select(
      plans.HyperplaneBits($"v", operators.EmbedQueries.hyperplanes32, 0, 32).as("bits"),
      plans.LongDot($"v", $"v").as("dot"))
    val p = plan(df)
    assert(p.linesIterator.exists(_.trim.contains("* Project")), p) // whole-stage codegen span
    val rows = df.collect()
    assert(rows.forall(_.getLong(1) > 0)) // self-dot of a nonzero vector
    // kernel semantics vs the declarative formulation on a constant input
    val ones = Seq((1L, Seq.fill(64)(1L))).toDF("vec_id", "v")
      .select(plans.LongDot($"v", $"v")).collect()(0).getLong(0)
    assert(ones == 64L)
  }

  test("tile-partitioned lineage layout prunes partitions on read") {
    val tmp = java.nio.file.Files.createTempDirectory("prune").toString
    val df = sources.ImageTable.df(spark, dir)
      .select(col("image_id"), operators.GeoQueries.tileCol.as("tile"), col("lon"), col("lat"))
    lineage.TileLineage.writeTiled(df, tmp)
    val rd = spark.read.parquet(tmp + "/data").filter(col("tile") === 42)
    val p = plan(rd)
    assert(p.contains("PartitionFilters: [isnotnull(tile"), p) // prunes at the source
  }

  test("bucketed tables co-locate the tile join: no Exchange in the plan") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      val df = operators.BucketedQueries.colocatedJoin(spark, dir)
      val p = plan(df)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), p) // both sides bucketed by tile: zero shuffle
    }
  }

  test("similarity operators contain no cartesian / nested-loop joins") {
    for (name <- Seq("e_cosine_dup", "e_ann_topk")) {
      val q = operators.EmbedQueries.defs.find(_.name == name).get
      val p = plan(q.fn(spark, dir))
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
    }
    val j = operators.DocQueries.defs.find(_.name == "d_minhash_lsh").get
    val pj = plan(j.fn(spark, dir))
    assert(!pj.contains("CartesianProduct"), pj)
    assert(!pj.contains("BroadcastNestedLoopJoin"), pj)
    // IVF: the nlist-row centroid broadcast IS a nested-loop (the right
    // plan for coarse scoring); what must never appear is an unbounded
    // cartesian
    val ivf = operators.EmbedQueries.defs.find(_.name == "e_ivf_topk").get
    assert(!plan(ivf.fn(spark, dir)).contains("CartesianProduct"))
  }

  test("as-of join is join-free (one window pass); range join is an equi-join") {
    // the as-of operator's scalable shape: union + window, no join operator
    val asof = operators.RelationalQueries.defs.find(_.name == "q_asof").get
    val pa = plan(asof.fn(spark, dir))
    assert(!pa.contains("Join"), pa)
    assert(pa.contains("Window"), pa)
    // the interval join must plan as a bucket equi-join, never cartesian/BNLJ
    val rng = operators.RelationalQueries.defs.find(_.name == "q_range_join").get
    val pr = plan(rng.fn(spark, dir))
    assert(!pr.contains("CartesianProduct"), pr)
    assert(!pr.contains("BroadcastNestedLoopJoin"), pr)
  }

  test("kNN plan broadcasts the probe side; no sort-merge joins anywhere") {
    val pts = sources.ImageTable.df(spark, dir)
      .select(col("doc_id").as("id"), col("lon"), col("lat"))
    val qs = pts.filter(col("id") % 50 === 0)
    val p = plan(operators.Knn(pts, qs, 3, operators.Knn.adaptiveCellSize(500, 3)))
    // the point cloud must never shuffle for the probe join, and the
    // tiny anti/semi joins must not plan as exchanged sort-merge joins
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // pass-1 top-k runs through the bounded DistTopK aggregate (partial
    // ObjectHashAggregate map-side, k-sized buffers through the exchange)
    // — never a partition-by-qid window sort over all candidates (the only
    // remaining Window is the tiny brute-force tail)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("dist_topk"), p)
  }

  test("hex/Hilbert cell encoders are native expressions, not UDFs") {
    val df = sources.ImageTable.df(spark, dir).select(
      plans.CellId.hex(col("lon").cast("int"), col("lat").cast("int"), 3).as("hx"),
      plans.CellId.hilbert(col("lon").cast("int"), col("lat").cast("int"), 8).as("hb"),
      plans.CellId.hexProbes(col("lon").cast("int"), col("lat").cast("int"), 5, 1).as("pr"))
    val p = plan(df)
    assert(!p.contains("ScalaUDF"), p)
    assert(!p.contains("CodegenFallback"), p)
    assert(p.linesIterator.exists(_.trim.contains("* Project")), p)
    assert(p.contains("hex_cell") && p.contains("hilbert_cell") && p.contains("hex_probes"), p)
  }

  test("pip mask expression stays codegen'd") {
    val df = sources.ImageTable.df(spark, dir)
      .select(operators.Pip.mask(col("lon"), col("lat"), operators.Pip.fixtureSet).as("m"))
    val p = plan(df)
    assert(p.linesIterator.exists(_.trim.contains("* Project")), p)
    assert(!p.contains("CodegenFallback"), p)
  }

  test("dsir: bucket table broadcasts; target-language docs score higher") {
    val q = operators.DocQueries.defs.find(_.name == "d_dsir").get
    val df = q.fn(spark, dir)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(3000))
    // semantic: en docs (the target slice) must average a higher
    // target-likeness score than the rest of the corpus
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "lang")
    val scored = df.join(docs, Seq("doc_id"))
      .groupBy(col("lang") === "en").agg(avg("score").as("s")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(scored(true) > scored(false), scored.toString)
  }

  test("tile pyramid: two exchanges total, levels consistent, z=0 is global") {
    val img = sources.ImageTable.df(spark, dir)
    val pyr = operators.GeoQueries.tilePyramid(img).cache()
    val zmax = operators.GeoQueries.PyrZMax.toLong
    // z=0 row holds the global totals
    val z0 = pyr.filter(col("z") === 0L).collect()
    assert(z0.length == 1, z0.mkString(","))
    assert(z0.head.getAs[Long]("cnt") == img.count())
    // every parent row equals the re-aggregation of its 4 children
    for (z <- 1L to zmax) {
      val child = pyr.filter(col("z") === z)
        .groupBy((col("z") - 1).as("z"),
          expr("shiftright(cx, 1)").as("cx"), expr("shiftright(cy, 1)").as("cy"))
        .agg(sum("cnt").as("cnt"), sum("px").as("px"), min("first_img").as("first_img"))
      val parent = pyr.filter(col("z") === z - 1)
      assert(parent.exceptAll(child).isEmpty && child.exceptAll(parent).isEmpty,
        s"level ${z - 1} != rollup of level $z")
    }
    pyr.unpersist()
    // two exchanges: raw rows -> base cells, base cells -> ancestor levels
    // (plus the final presentation sort's range exchange)
    val p = plan(operators.GeoQueries.tilePyramid(img))
    val nEx = p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange.*"""))
    assert(nEx == 3, s"expected 2 agg exchanges + 1 sort: $nEx\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }
}
