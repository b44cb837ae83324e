package graft.tools

import org.apache.spark.sql.functions._

import graft.core.{Engine, Tables}
import graft.materialize._

/** Diagnostic main: prints the physical plans of the scale-critical paths
  * so partition pruning / broadcast / exchange placement can be audited
  * (`sbt "runMain graft.tools.PlanAudit [sfDir]"`). Not part of the driver
  * contract — a development tool.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Engine.builder("local[8]", "graft-plan-audit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val db = "plan_audit_db"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")

    // Partitioned snapshot: the current-partition read must show
    // PartitionFilters on dbt_valid_to_date (static pruning).
    val c = Tables.customer(spark, dir)
    val cfg = SnapshotConfig(Seq("c_custkey"),
      SnapshotStrategy.ByCheck(Seq("c_acctbal")),
      clock = () => java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      partitionHistory = true)
    SnapshotMaterialization.run(spark, s"$db.snap", c, cfg)
    println("=== partitioned-snapshot current read (want PartitionFilters) ===")
    spark.table(s"$db.snap")
      .filter(col("dbt_valid_to_date") === to_date(lit("9999-12-31")))
      .explain()

    // Partition-scoped merge: the scoped-target semi join should prune at
    // runtime (DPP) or broadcast the tiny partition list.
    val o = Tables.orders(spark, dir)
    val mcfg = IncrementalConfig(IncrementalStrategy.Merge,
      uniqueKey = Seq("o_orderkey"), partitionBy = Seq("o_orderstatus"))
    IncrementalMaterialization.run(spark, s"$db.om", o, mcfg)
    val batch = o.filter(col("o_orderstatus") === "F" && col("o_orderkey") <= 500)
    println("=== scoped-merge affected-partition semi join ===")
    spark.table(s"$db.om")
      .join(batch.select("o_orderstatus").distinct(), Seq("o_orderstatus"), "left_semi")
      .explain()

    // LSH top-k: no embedding array may ride the band-dedup exchange (only
    // ids + the scalar cosine computed inside the broadcast band join).
    val vecs = Tables.embeddings(spark, dir)
    val probes = vecs.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    println("=== lshTopK (distinct must carry ids only) ===")
    graft.similarity.Knn.lshTopK(probes, vecs, "vec_id", "embedding", 3).explain()

    // Reference relational shapes: pushdown + broadcast sanity.
    println("=== q04 filter/projection pushdown ===")
    graft.queries.RelationalQueries.q04FilterProject(spark, dir).explain()

    // Training-data pipeline: the only wide exchanges should be the exact-
    // dedup hash shuffle and the final split aggregate; the benchmark gram
    // side must broadcast, and the filters/split must be scan-local.
    // Executed (final adaptive) plan: the dedup subtree appears twice in
    // the logical DAG (clean side + contamination-flag side), so the thing
    // to verify is that AQE ReuseExchange collapses the second dedup
    // shuffle at runtime rather than recomputing the corpus pass.
    println("=== pipe_training_data (want ReusedExchange on the dedup shuffle) ===")
    val ptd = graft.queries.PipelineQueries.pipeTrainingData(spark, dir)
    ptd.collect()
    val ptdPlan = ptd.queryExecution.executedPlan.toString
    println(ptdPlan.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("BroadcastHashJoin"))
      .mkString("\n"))

    // Near-dup collapse sharing: after the scoped persists, the simhash
    // pair plan must read the membership from ONE InMemoryRelation (not
    // re-aggregate the corpus per fan-out branch) — count the parquet
    // scans: 2 collapse evaluations × the 3-way planted union = 6, where
    // the unshared plan had 24.
    println("=== simhashNearDupPairs (want InMemoryTableScan; few parquet scans) ===")
    val docs = Tables.documents(spark, dir)
    val pairs = graft.dedup.Dedup.simhashNearDupPairs(docs, "doc_id", "text")
    val pairsPlan = pairs.queryExecution.executedPlan.toString
    val nScans = pairsPlan.linesIterator.count(_.contains("Scan parquet"))
    val nMem = pairsPlan.linesIterator.count(_.contains("InMemoryTableScan"))
    println(s"parquet scans: $nScans, in-memory scans: $nMem")

    // Decontamination: the benchmark-gram side must broadcast; the corpus
    // side must stay scan-local (no corpus shuffle by gram).
    println("=== decontaminate (want BroadcastHashJoin, no corpus exchange by gram) ===")
    graft.text.Decontamination.decontaminate(
      docs, docs.filter(col("doc_id") < 50).select(col("text").as("bench_text")),
      "doc_id", "text", "bench_text", n = 8).explain()

    // Range join: the bucketed formulation must plan as an EQUI-join
    // (hash/sort-merge on (key, bucket)) — a BroadcastNestedLoopJoin or
    // CartesianProduct here means the bucket equality was lost.
    println("=== rangeJoin (want equi-join, no nested loop) ===")
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    val windows = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
    val rj = graft.operators.RangeJoin.rangeJoin(clicks, windows,
      Seq("user_id"), "ts", "w_start", "w_end", 3600L)
    val rjPlan = rj.queryExecution.executedPlan.toString
    println(rjPlan.linesIterator
      .filter(l => l.contains("Join") || l.contains("Exchange")).mkString("\n"))

    // Cross-corpus near-dedup: the reference's distinct-hash side and the
    // probe/centroid-like broadcast sides should broadcast; the corpus must
    // not shuffle its text anywhere except the collapse aggregation.
    println("=== minhashNearDupPairsAgainst (want broadcasts; corpus text only in collapse) ===")
    val xnd = graft.dedup.Dedup.minhashNearDupPairsAgainst(
      docs, "doc_id", "text",
      docs.filter(col("doc_id") < 50)
        .select(col("doc_id").as("ref_id"), col("text")), "ref_id", "text")
    xnd.collect()
    println(xnd.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Broadcast"))
      .mkString("\n"))

    // TF-IDF: ONE shuffle by (doc, term), one by term, a broadcast of the
    // 1-row corpus count, and the final per-doc window — no second corpus
    // tokenization (the pair aggregation is checkpoint-shared).
    println("=== tfidf topTerms (want shared pair aggregation) ===")
    val tf = graft.text.TfIdf.topTerms(docs, "doc_id", "text", 3)
    tf.collect()
    println(tf.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Scan") ||
        l.contains("Window")).mkString("\n"))

    // IVF build: quantizer training is driver-side over a bounded sample,
    // so the corpus ASSIGNMENT plan must be one scan-local codegen'd
    // project — no Exchange, no join, and the nearest-centroid argmax
    // inside a WholeStageCodegen span.
    println("=== buildIvf assignment (want scan-local codegen, zero Exchange) ===")
    val ivx = graft.similarity.Knn.buildIvf(vecs, "vec_id", "embedding")
    val asgPlan = ivx.assigned.queryExecution.executedPlan.toString
    val asgExchanges = asgPlan.linesIterator.count(_.contains("Exchange"))
    // Codegen'd operators print with a `*(stageId)` prefix in the compact
    // plan string (WholeStageCodegen spans).
    val asgCodegen = asgPlan.linesIterator.count(_.trim.startsWith("*("))
    println(s"exchanges: $asgExchanges (want 0), codegen spans: $asgCodegen (want >0)")
    println(asgPlan.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("nearest_centroid") ||
        l.contains("Scan")).mkString("\n"))

    // IVF-PQ: corpus encoding must be scan-local codegen (assign + encode
    // in one project, zero Exchange). The search routes on the driver, so
    // its candidate plan over a persisted index must read only the probed
    // lists through a STATIC list_id partition filter, carry exactly one
    // Exchange (the top-refine window — ids and approx only, codes and
    // vectors stay out of it) and broadcast nothing.
    println("=== buildIvfPq encoding (want scan-local codegen, zero Exchange) ===")
    val pqx = graft.similarity.Knn.buildIvfPq(vecs, "vec_id", "embedding")
    val encPlan = pqx.encoded.queryExecution.executedPlan.toString
    val encExchanges = encPlan.linesIterator.count(_.contains("Exchange"))
    val encCodegen = encPlan.linesIterator.count(_.trim.startsWith("*("))
    println(s"exchanges: $encExchanges (want 0), codegen spans: $encCodegen (want >0)")
    println("=== searchIvfPq candidates (want static list_id PartitionFilters, " +
      "1 Exchange, 0 BroadcastExchange) ===")
    graft.similarity.Knn.saveIvfPq(pqx, s"$db.ivfpq")
    val candPlan = graft.similarity.Knn.ivfPqCandidatePlan(
      graft.similarity.Knn.loadIvfPq(spark, s"$db.ivfpq"), probes,
      "vec_id", "embedding").get.queryExecution.executedPlan.toString
    val candLines = candPlan.linesIterator.toSeq
    val staticPruned = candLines.exists(l => l.contains("Scan") &&
      l.split("PartitionFilters: ").lift(1)
        .exists(_.takeWhile(_ != ']').contains("list_id")))
    val candBroadcasts = candLines.count(_.contains("BroadcastExchange"))
    val candExchanges = candLines.count(_.contains("Exchange")) - candBroadcasts
    println(s"static list_id partition filter: $staticPruned (want true), " +
      s"exchanges: $candExchanges (want 1), broadcasts: $candBroadcasts (want 0)")
    println(candLines.filter(l => l.contains("Exchange") || l.contains("Scan"))
      .mkString("\n"))

    // Bloom cross-corpus dedup: the clean branch must be a scan-local
    // filter (bloom probe inside the scan stage, no join), and only the
    // hit branch may join.
    println("=== exactAgainstBloom (want scan-local bloom filter + hit-only join) ===")
    val bl = graft.dedup.Dedup.exactAgainstBloom(docs, Seq("text"),
      docs.filter(col("doc_id") < 50).select(col("text")), Seq("text"))
    println(bl.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Join") || l.contains("Exchange") ||
        l.contains("bloom_might_contain")).mkString("\n"))

    // Sequence packing: the per-shard window sort runs over NARROW rows
    // only — (key, tokens) — and the payload joins back by key WITHOUT a
    // sort (shuffle-hash, or AQE-upgraded broadcast). The failure mode to
    // catch: any Sort whose row carries the document text (the r08
    // full-text shard sort).
    println("=== packSequences (want: no text column in any Sort; window over (key,tokens) only) ===")
    val packed = graft.operators.Packing.packSequences(
      docs, "doc_id", "n_chars", seqLen = 4096L, nShards = 8)
    packed.collect()
    val packPlan = packed.queryExecution.executedPlan.toString
    // Inspect the logical Window CHILD'S OUTPUT attributes, not the Sort
    // plan line: a Sort line prints only its sort KEYS, so a re-widened
    // window (the r08 full-text shard sort) would carry `text` through
    // the sort buffer without `text` ever appearing on the line — a
    // string grep green-lights exactly the regression it documents.
    val textSorted = packed.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.child.output.map(_.name)
    }.flatten.contains("text")
    println(s"text column in the window frame: $textSorted (want false)")
    println(packPlan.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Window") ||
        l.contains("Sort") || l.contains("Join")).mkString("\n"))

    // Duplicated-span stats: the gram exchanges must carry the 8-byte
    // xxhash64 key, never gram text — no string-typed shuffle past the
    // first aggregation (grep the exchanges for the raw gram column).
    println("=== duplicatedSpanStats (want hashed 8-byte gram keys in exchanges) ===")
    val ds = graft.text.DupSpans.duplicatedSpanStats(docs, "doc_id", "text", n = 3)
    ds.collect()
    val dsPlan = ds.queryExecution.executedPlan.toString
    val gramStringShuffle = dsPlan.linesIterator
      .filter(_.contains("Exchange")).exists(_.contains("__g0"))
    println(s"gram-text column in an exchange: $gramStringShuffle (want false)")
    println(dsPlan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))

    // Semantic dedup: the pairing side must shuffle only (id, hash keys,
    // list_id) — the embedding array may appear only in the verify joins,
    // never in the collapse/bucket exchanges.
    println("=== semanticNearDupPairs (want no vector in collapse/bucket exchanges) ===")
    val sem = graft.dedup.Dedup.semanticNearDupPairs(
      vecs, "vec_id", "embedding", threshold = 0.98, nlist = 16)
    sem.collect()
    println(sem.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Broadcast"))
      .mkString("\n"))

    // SQ8: corpus encoding must be a scan-local codegen'd project; the
    // quantized scoring happens inside the broadcast cross-join stage and
    // only (query_id, neighbor_id, approx) rides the top-refine exchange —
    // no codes or vectors in any shuffle.
    println("=== sq8TopK (want scan-local encode; ids+approx only in refine exchange) ===")
    val sq = graft.similarity.Knn.sq8TopK(probes, vecs, "vec_id", "embedding", 3)
    sq.collect()
    val sqPlan = sq.queryExecution.executedPlan.toString
    val sqCodesShuffled = sqPlan.linesIterator
      .filter(_.contains("Exchange")).exists(l =>
        l.contains("codes") || l.contains("_vec") || l.contains("embedding"))
    println(s"codes/vectors in an exchange: $sqCodesShuffled (want false)")
    println(sqPlan.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Broadcast"))
      .mkString("\n"))

    // Line dedup: like duplicatedSpanStats — the line exchanges carry the
    // 8-byte xxhash64 key, never line text.
    println("=== removeDuplicateLines (want hashed keys in exchanges) ===")
    val ld = graft.text.LineDedup.removeDuplicateLines(
      graft.queries.PipelineQueries.linedDocs(docs), "doc_id", "text")
    ld.collect()
    val ldPlan = ld.queryExecution.executedPlan.toString
    val lineStringShuffle = ldPlan.linesIterator
      .filter(_.contains("Exchange")).exists(_.contains("__l0"))
    println(s"line-text column in an exchange: $lineStringShuffle (want false)")
    println(ldPlan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))

    // Unigram LM: the model is a vocabulary-sized agg + bounded top-V cut;
    // scoring must join the vocab via BROADCAST (token stream never
    // shuffles by term for scoring) with one doc-keyed exchange for the
    // per-doc mean.
    println("=== unigram LM scoring (want broadcast vocab join) ===")
    val ulm = graft.text.UnigramLm.scoreDocs(docs, "doc_id", "text",
      vocabSize = 50)
    ulm.collect()
    println(ulm.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Broadcast"))
      .mkString("\n"))

    // BM25: query terms broadcast and prune the postings BEFORE anything
    // wide; document text enters no exchange (only (doc, term, tf)
    // triples in the pair aggregation); the final top-k gets a
    // WindowGroupLimit push-down so only ~k candidates per query ride
    // the last exchange.
    println("=== bm25 search (want broadcast prune + WindowGroupLimit) ===")
    locally {
      import spark.implicits._
      val qs = Seq((1L, "spark window sort")).toDF("qid", "qt")
      val bm = graft.text.Bm25.search(docs, "doc_id", "text",
        qs, "qid", "qt", k = 10)
      bm.collect()
      val p = bm.queryExecution.executedPlan.toString
      println(s"WindowGroupLimit present: ${p.contains("WindowGroupLimit")} (want true)")
      println(p.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("Broadcast"))
        .mkString("\n"))
    }

    // NB scoring: the model (vocab × classes micro-nats) must broadcast;
    // the doc-term stream shuffles only by doc for the per-class sums.
    println("=== nb predict (want broadcast model join) ===")
    locally {
      val model = graft.text.NbClassifier.train(docs, "text", "lang",
        vocabSize = 200)
      val pred = graft.text.NbClassifier.predict(model, docs, "doc_id", "text")
      pred.collect()
      println(pred.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("Broadcast"))
        .mkString("\n"))
    }

    // Binary-quantization ANN: code packing must be scan-local codegen
    // (zero Exchange before the crossJoin probe), and only
    // (query_id, neighbor_id, hamming) may ride the top-refine exchange.
    println("=== binaryTopK (want scan-local codes; narrow refine exchange) ===")
    locally {
      val bq = graft.similarity.Knn.binaryTopK(probes, vecs,
        "vec_id", "embedding", k = 3)
      bq.collect()
      val p = bq.queryExecution.executedPlan.toString
      val vecInExchange = p.linesIterator
        .filter(_.contains("Exchange")).exists(_.contains("embedding"))
      println(s"embedding column in an exchange: $vecInExchange (want false)")
      println(p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    }

    // PageRank: each iteration's exchanges carry only (node, rank) /
    // (dst, contribution) 16-byte rows. run() checkpoints every round
    // (the audit would only see the final scan), so replicate ONE
    // iteration's plan inline — the same joins run() builds — and check
    // no exchange row is wider than two attributes.
    println("=== pageRank iteration (want narrow 16-byte exchanges only) ===")
    locally {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
      val edges = li.as("a")
        .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") =!= col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
        .distinct().localCheckpoint()
      val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
        .localCheckpoint()
      val ranks = edges.select(col("src").as("node")).distinct()
        .withColumn("rank", lit(1000000L)).localCheckpoint()
      val step = edges.join(outdeg, "src")
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank div __deg")).as("__in"))
      val nxt = ranks.select(col("node"))
        .join(step, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(85 * coalesce(__in, 0L)) div 100")).as("rank"))
      nxt.collect()
      // Widest exchange row: inspect the logical aggregate/join inputs
      // feeding each physical Exchange via the executed plan string.
      println(nxt.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("Broadcast"))
        .mkString("\n"))
    }

    // Heavy hitters: pass 2's aggregation exchange must sit BEHIND the
    // broadcast candidate semi-join (only candidate tokens shuffle); the
    // candidate side itself is the bounded mapPartitions sketch.
    println("=== heavyHitters topTokens (want broadcast semi-join before the count exchange) ===")
    locally {
      val hh = graft.text.HeavyHitters.topTokens(docs, "text", 10, 64)
      hh.collect()
      println(hh.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("Broadcast"))
        .mkString("\n"))
    }

    // Erasure: the rewrite's survivor scan must be ONE broadcast anti-join
    // over the deletion list — no shuffle of the table being erased.
    println("=== eraseKeys survivors (want BroadcastHashJoin LeftAnti, zero shuffle) ===")
    locally {
      import spark.implicits._
      spark.sql(s"DROP TABLE IF EXISTS $db.erase_audit")
      Tables.events(spark, dir).write.saveAsTable(s"$db.erase_audit")
      val keys = Seq(3L, 13L).toDF("user_id")
      val surv = spark.table(s"$db.erase_audit")
        .join(broadcast(keys), Seq("user_id"), "left_anti")
      val p = surv.queryExecution.executedPlan.toString
      // The deletion list itself broadcasts (a BroadcastExchange is the
      // mechanism, not a shuffle); what must NOT appear is a
      // hashpartitioning shuffle of the table being erased.
      val nShuffles = p.linesIterator
        .count(l => l.contains("Exchange hashpartitioning"))
      println(s"table shuffles: $nShuffles (want 0), " +
        s"broadcast anti-join: ${p.contains("BroadcastHashJoin") && p.contains("LeftAnti")} (want true)")
      println(p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    }

    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.stop()
  }
}
