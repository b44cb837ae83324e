package graftbench

import java.io.File
import java.security.MessageDigest
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Catalog, ScopedStorage}
import graft.dedup.{Clusters, Dedup}
import graft.materialize._
import graft.operators.EventAnalytics
import graft.quality.QualityChecks
import graft.similarity.Knn
import graft.text.{C4Rules, QualityRules}

/** What one pass of a workload's fixed work reports. `loopRows` user rows
  * went through the timed loop in `loopSeconds`; `inputBytes` is the size of
  * the generated input the pass read.
  */
final case class PassOut(runSeconds: Double, loopRows: Long, loopSeconds: Double,
    inputBytes: Long, extras: Map[String, Double] = Map.empty)

/** What a pass's checks measured: quality guards reported as per-layer
  * metrics, and a fingerprint of the pass's output for the run record
  * (empty when the workload has none). */
final case class Verdict(guards: Map[String, Double] = Map.empty, fingerprint: String = "")

/** One workload: inputs generated off the clock, sources loaded off the
  * clock, then passes of fixed work, each in its own namespace, followed by
  * the pass's correctness checks.
  */
trait Workload {
  /** Load generated inputs into source tables (plain Spark, off the clock). */
  def prepare(): Unit
  /** One pass of the fixed work in database `ns`. */
  def pass(ns: String, ops: Ops, tr: Tracer): PassOut
  /** Correctness checks of a finished pass (off the clock). */
  def check(ns: String, out: PassOut, ops: Ops): Verdict
}

object Workload {
  val Names: Seq[String] = Seq("dbt_incremental", "corpus_dedup", "ann_serve")

  /** The fixed work grows linearly with the requested run length. */
  def apply(name: String, spark: SparkSession, dir: File, seed: Long,
      seconds: Int): Workload = name match {
    case "dbt_incremental" =>
      new DbtIncremental(spark, Gen.dbt(dir, seed, 0.03, math.max(1, seconds / 5)))
    case "corpus_dedup" =>
      new CorpusDedup(spark, Gen.corpus(dir, seed, math.max(2, seconds / 5), 400))
    case "ann_serve" =>
      new AnnServe(spark, Gen.ann(dir, seed, 20000, 3 * seconds, 16))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** Order-independent content witness: row count and the sum of a 64-bit
    * hash of every row, over the columns in name order. */
  def witness(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

// ------------------------------------------------------------ dbt_incremental

/** A dbt project over a TPC-H-shaped source system: seed, staging views and
  * table models, then rounds of change batches applied through append,
  * insert_overwrite (date-partitioned), merge (unique key), an SCD2 snapshot
  * and the generic data tests. Every model call is preceded by the relation
  * probe dbt makes before materializing.
  */
final class DbtIncremental(spark: SparkSession, in: Gen.DbtInputs) extends Workload {
  private val src = "src"

  private val OrdersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
  private val LineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", IntegerType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_shipdate", DateType)))
  private val CustomerSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType), StructField("c_address", StringType)))
  private val EventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def csv(name: String, schema: StructType): DataFrame =
    spark.read.option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(schema).csv(in.file(name))

  def prepare(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $src")
    Seq(("customer", "customer_0.csv", CustomerSchema), ("orders", "orders.csv", OrdersSchema),
      ("lineitem", "lineitem.csv", LineitemSchema), ("events", "events.csv", EventsSchema))
      .foreach { case (t, f, s) => csv(f, s).write.mode("overwrite").saveAsTable(s"$src.$t") }
  }

  // Model bodies, shared by the incremental runs and the full-refresh check.
  private def ordersModel(orders: DataFrame): DataFrame =
    orders.select(OrdersSchema.fieldNames.map(col).toSeq :+
      date_format(col("o_orderdate"), "yyyy-MM").as("order_month"): _*)
  private def monthlyModel(orders: DataFrame): DataFrame =
    orders.groupBy("order_month", "o_orderstatus").agg(
      count(lit(1)).as("n_orders"),
      sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)").as("revenue"))
  private def lineitemModel(li: DataFrame): DataFrame =
    li.withColumn("revenue", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
  private def snapshotCfg(day: Int) = SnapshotConfig(Seq("c_custkey"),
    SnapshotStrategy.ByCheck(Seq("c_acctbal", "c_mktsegment", "c_address")),
    hardDeletes = HardDeletes.Invalidate,
    clock = () => Timestamp.valueOf(java.time.LocalDate.ofEpochDay(day).atStartOfDay()))
  private val Merge = IncrementalConfig(IncrementalStrategy.Merge, uniqueKey = Seq("o_orderkey"))
  private val Overwrite = IncrementalConfig(IncrementalStrategy.InsertOverwrite,
    partitionBy = Seq("order_month"))
  private val Append = IncrementalConfig(IncrementalStrategy.Append)

  def pass(ns: String, ops: Ops, tr: Tracer): PassOut = {
    def t(name: String) = s"$ns.$name"
    /** One model call: the relation probe, then the materialization. */
    def model(kind: String, name: String)(f: => Unit): Unit =
      ops.op(s"$kind:$name") {
        tr.span("core.catalog")(Catalog.getRelation(spark, ns, name))
        tr.span(s"materialize.$kind")(f)
      }
    def tests(customers: DataFrame, round: Int): Unit = {
      val e = in.expect(round)
      Seq[(String, DataFrame => DataFrame, Long)](
        ("not_null", QualityChecks.notNull(_, "o_custkey"), e.nullCustomer),
        ("unique", QualityChecks.unique(_, "o_orderkey"), 0L),
        ("accepted_values",
          QualityChecks.acceptedValues(_, "o_orderstatus", Gen.Statuses), e.badStatusValues),
        ("relationships",
          QualityChecks.relationships(_, "o_custkey", customers, "c_custkey"), e.orphanOrders),
        ("expression",
          QualityChecks.expression(_, col("o_totalprice") >= 0), e.negativePrice)
      ).foreach { case (name, offending, expected) =>
        ops.op(s"test:$name") {
          tr.span("quality.tests") {
            QualityChecks.evaluate(offending(spark.table(t("inc_orders")))).head().getLong(0)
          }
        }.foreach(n => ops.check(s"round $round test $name")(n == expected,
          s"returned $n failures, planted $expected"))
      }
    }

    spark.sql(s"CREATE DATABASE $ns")
    val t0 = System.nanoTime()
    // Initial build.
    model("seed", "nation_region") {
      SeedLoader.loadCsv(spark, t("nation_region"), in.file("nation_region.csv"),
        Map("n_nationkey" -> "int", "n_name" -> "string", "r_name" -> "string"))
    }
    Seq("stg_orders" -> s"SELECT * FROM $src.orders",
      "stg_customer" -> s"SELECT * FROM $src.customer",
      "stg_lineitem" -> s"SELECT * FROM $src.lineitem",
      "stg_events" -> s"SELECT * FROM $src.events").foreach { case (v, sql) =>
      model("view", v)(ViewMaterialization.run(spark, t(v), sql))
    }
    model("table", "dim_customer") {
      TableMaterialization.run(spark, t("dim_customer"), spark.sql(
        s"""SELECT c.*, n.n_name, n.r_name FROM ${t("stg_customer")} c
           |JOIN ${t("nation_region")} n ON c.c_nationkey = n.n_nationkey""".stripMargin))
    }
    model("table", "fct_nation_revenue") {
      TableMaterialization.run(spark, t("fct_nation_revenue"), spark.sql(
        s"""SELECT n.r_name, n.n_name, year(o.o_orderdate) AS yr, count(*) AS n_lines,
           |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,2)))
           |    AS DECIMAL(18,2)) AS revenue
           |FROM ${t("stg_lineitem")} l
           |JOIN ${t("stg_orders")} o ON l.l_orderkey = o.o_orderkey
           |JOIN ${t("stg_customer")} c ON o.o_custkey = c.c_custkey
           |JOIN ${t("nation_region")} n ON c.c_nationkey = n.n_nationkey
           |GROUP BY n.r_name, n.n_name, year(o.o_orderdate)""".stripMargin))
    }
    ops.op("table:fct_sessions") {
      tr.span("core.catalog")(Catalog.getRelation(spark, ns, "fct_sessions"))
      tr.span("operators.sessionize") {
        TableMaterialization.run(spark, t("fct_sessions"),
          EventAnalytics.sessionize(spark.table(t("stg_events")), "user_id", "ts", "event_id"))
      }
    }
    model("merge", "inc_orders") {
      IncrementalMaterialization.run(spark, t("inc_orders"),
        ordersModel(spark.table(t("stg_orders"))), Merge)
    }
    model("insert_overwrite", "inc_orders_monthly") {
      IncrementalMaterialization.run(spark, t("inc_orders_monthly"),
        monthlyModel(spark.table(t("inc_orders"))), Overwrite)
    }
    model("append", "inc_events") {
      IncrementalMaterialization.run(spark, t("inc_events"), spark.table(t("stg_events")), Append)
    }
    model("append", "inc_lineitem") {
      IncrementalMaterialization.run(spark, t("inc_lineitem"),
        lineitemModel(spark.table(t("stg_lineitem"))), Append)
    }
    model("snapshot", "snap_customer") {
      SnapshotMaterialization.run(spark, t("snap_customer"), spark.table(t("stg_customer")),
        snapshotCfg(Gen.Day0))
    }
    tests(spark.table(t("stg_customer")), 0)

    // Change rounds.
    val loop0 = System.nanoTime()
    (1 to in.rounds).foreach { r =>
      val batch = ordersModel(csv(s"orders_$r.csv", OrdersSchema))
      model("merge", "inc_orders") {
        IncrementalMaterialization.run(spark, t("inc_orders"), batch, Merge)
      }
      model("insert_overwrite", "inc_orders_monthly") {
        val touched = spark.table(t("inc_orders"))
          .join(batch.select("order_month").distinct(), Seq("order_month"), "left_semi")
        IncrementalMaterialization.run(spark, t("inc_orders_monthly"), monthlyModel(touched),
          Overwrite)
      }
      model("append", "inc_events") {
        IncrementalMaterialization.run(spark, t("inc_events"),
          csv(s"events_$r.csv", EventsSchema), Append)
      }
      model("append", "inc_lineitem") {
        IncrementalMaterialization.run(spark, t("inc_lineitem"),
          lineitemModel(csv(s"lineitem_$r.csv", LineitemSchema)), Append)
      }
      val customers = csv(s"customer_$r.csv", CustomerSchema)
      model("snapshot", "snap_customer") {
        SnapshotMaterialization.run(spark, t("snap_customer"), customers,
          snapshotCfg(Gen.Day0 + r))
      }
      tests(customers, r)
    }
    val end = System.nanoTime()
    PassOut((end - t0) / 1e9, in.changeRows.sum, (end - loop0) / 1e9, in.bytes)
  }

  def check(ns: String, out: PassOut, ops: Ops): Verdict = {
    def t(name: String) = spark.table(s"$ns.$name")
    def same(name: String, got: DataFrame, want: DataFrame): Unit = {
      lazy val (g, w) = (Workload.witness(got), Workload.witness(want))
      ops.check(s"$name equals a full refresh")(g == w, s"incremental $g, full refresh $w")
    }
    val finalOrders = ordersModel(csv("final_orders.csv", OrdersSchema))
    same("inc_orders", t("inc_orders"), finalOrders)
    same("inc_orders_monthly", t("inc_orders_monthly"), monthlyModel(finalOrders))
    val rounds = 1 to in.rounds
    same("inc_events", t("inc_events"),
      rounds.map(r => csv(s"events_$r.csv", EventsSchema))
        .foldLeft(csv("events.csv", EventsSchema))(_ unionByName _))
    same("inc_lineitem", t("inc_lineitem"), lineitemModel(
      rounds.map(r => csv(s"lineitem_$r.csv", LineitemSchema))
        .foldLeft(csv("lineitem.csv", LineitemSchema))(_ unionByName _)))
    val open = t("snap_customer").filter(col("dbt_valid_to").isNull)
      .select(CustomerSchema.fieldNames.map(col).toSeq: _*)
    val live = in.expect.last.liveCustomers
    lazy val nOpen = open.count()
    ops.check("snapshot open versions equal live customers")(nOpen == live,
      s"open $nOpen, live $live")
    same("snapshot open versions", open, csv(s"customer_${in.rounds}.csv", CustomerSchema))
    lazy val sessions = t("fct_sessions").agg(sum("n_events")).head().getLong(0)
    lazy val events = t("stg_events").count()
    ops.check("sessions cover every event")(sessions == events,
      s"sessions hold $sessions events of $events")
    lazy val revenueRows = t("fct_nation_revenue").count()
    ops.check("nation revenue model is non-empty")(revenueRows > 0, "no rows")
    Verdict()
  }
}

// ------------------------------------------------------------ corpus_dedup

/** Continuous ingestion of a document corpus: each batch is cleaned (C4 line
  * rules, C4 page rules, Gopher quality), deduplicated within the batch
  * (MinHash-LSH pairs, connected components, one survivor per component),
  * then against the accepted corpus, recorded in the exact-content ledger
  * and appended to the accepted corpus; the batch's pinned storage is
  * released before the next batch.
  */
final class CorpusDedup(spark: SparkSession, in: Gen.CorpusInputs) extends Workload {
  private val DocSchema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))
  private var kept = 0L

  def prepare(): Unit = ()

  def pass(ns: String, ops: Ops, tr: Tracer): PassOut = {
    val accepted = s"$ns.accepted"
    spark.sql(s"CREATE DATABASE $ns")
    val t0 = System.nanoTime()
    ops.step("create accepted") {
      TableMaterialization.run(spark, accepted,
        spark.createDataFrame(java.util.Collections.emptyList[Row](), DocSchema))
    }
    kept = 0L
    in.batchFiles.zipWithIndex.foreach { case (f, b) =>
      ops.op(s"batch $b") {
        val raw = spark.read.schema(DocSchema).json(f.getAbsolutePath)
        val clean = tr.span("text.clean") {
          val c = ScopedStorage.checkpoint(raw
            .filter(C4Rules.docKeep(col("text")))
            .select(col("id"), C4Rules.cleanText(col("text")).as("text"))
            .filter(QualityRules.gopherQualityKeep(col("text"))))
          kept += c.count()
          c
        }
        val pairs = tr.span("dedup.minhash_pairs") {
          ScopedStorage.checkpoint(
            Dedup.minhashNearDupPairs(clean, "id", "text").select("id_a", "id_b"))
        }
        val labels = tr.span("dedup.components") {
          ScopedStorage.checkpoint(Clusters.connectedComponents(pairs))
        }
        // Clusters.survivors' rule — one canonical (minimum) id per
        // component, singletons implicit — applied to the labels already
        // computed, so components are not computed twice.
        val survivors = tr.span("dedup.survivors") {
          ScopedStorage.checkpoint(clean.join(
            labels.filter(col("id") =!= col("cluster")).select("id"), Seq("id"), "left_anti"))
        }
        val fresh = tr.span("dedup.pairs_against") {
          val matched = Dedup.minhashNearDupPairsAgainst(survivors, "id", "text",
            spark.table(accepted), "id", "text").select("id")
          ScopedStorage.checkpoint(survivors.join(matched, Seq("id"), "left_anti"))
        }
        val ingested = tr.span("dedup.ledger_ingest") {
          Dedup.ledgerIngest(s"$ns.ledger", fresh, Seq("text"), Seq(col("id")))
        }
        tr.span("materialize.append") {
          IncrementalMaterialization.run(spark, accepted, ingested,
            IncrementalConfig(IncrementalStrategy.Append))
        }
        tr.span("core.storage_release")(ScopedStorage.releaseAll(blocking = true))
      }
    }
    val end = System.nanoTime()
    PassOut((end - t0) / 1e9, in.docs, (end - t0) / 1e9, in.bytes,
      Map("text.clean.kept_frac" -> kept.toDouble / in.docs))
  }

  def check(ns: String, out: PassOut, ops: Ops): Verdict = {
    val rows = spark.table(s"$ns.accepted").collect().map(r => (r.getLong(0), r.getString(1)))
    val ids = rows.map(_._1).toSet
    ops.check("accepted ids are distinct")(ids.size == rows.length,
      s"${rows.length} rows, ${ids.size} ids")
    val lost = in.uniques -- ids
    ops.check("no unique document dropped")(lost.isEmpty,
      s"${lost.size} dropped, e.g. ${lost.take(5).mkString(",")}")
    val junk = ids intersect in.junk
    ops.check("no junk page accepted")(junk.isEmpty, s"${junk.size} accepted")
    val stray = ids -- in.uniques -- in.plantedDups
    ops.check("accepted only generated documents")(stray.isEmpty, s"${stray.size} stray")
    val wrong = rows.count { case (i, t) => in.cleanText.get(i).exists(_ != t) }
    ops.check("accepted text is the C4-cleaned document")(wrong == 0,
      s"$wrong documents differ from their cleaned text")
    val found = (in.plantedDups -- ids).size
    val recall = found.toDouble / math.max(1, in.plantedDups.size)
    ops.check("planted duplicate recall >= 0.95")(recall >= 0.95,
      s"recall $recall ($found of ${in.plantedDups.size})")
    Verdict(Map("dedup.planted_recall" -> recall),
      Workload.sha256(rows.sortBy(_._1).iterator.map { case (i, t) => s"$i\t$t" }))
  }
}

// ------------------------------------------------------------ ann_serve

/** Build once, search many times: the vector corpus is written to a table,
  * an IVF-PQ index is trained, saved and reloaded, then a closed loop of
  * small query batches runs through the loaded index.
  */
final class AnnServe(spark: SparkSession, in: Gen.AnnInputs) extends Workload {
  private val VecSchema = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(FloatType, containsNull = false))))
  private var hits = 0L
  private var answered = 0L

  def prepare(): Unit = ()

  def pass(ns: String, ops: Ops, tr: Tracer): PassOut = {
    spark.sql(s"CREATE DATABASE $ns")
    val vectors = s"$ns.vectors"
    val t0 = System.nanoTime()
    val index = ops.step("build") {
      tr.span("materialize.table") {
        TableMaterialization.run(spark, vectors,
          spark.read.schema(VecSchema).json(in.corpusFile.getAbsolutePath))
      }
      tr.span("similarity.build") {
        Knn.saveIvfPq(Knn.buildIvfPq(spark.table(vectors), "id", "vec", nlist = 32), s"$ns.ivf")
        Knn.loadIvfPq(spark, s"$ns.ivf")
      }
    }
    hits = 0L; answered = 0L
    val loop0 = System.nanoTime()
    index.foreach { idx =>
      val corpus = spark.table(vectors)
      in.queryBatches.zipWithIndex.foreach { case (batch, b) =>
        val qdf = spark.createDataFrame(
          batch.map(q => Row(q.id, q.vec.toSeq)).asJava, VecSchema)
        ops.op(s"search $b") {
          tr.span("similarity.search") {
            Knn.searchIvfPq(idx, qdf, corpus, "id", "vec", k = 1, nprobe = 4)
              .select("query_id", "neighbor_id").collect()
          }
        }.foreach { res =>
          val top = res.map(r => r.getLong(0) -> r.getLong(1)).toMap
          answered += top.size
          hits += batch.count(q => top.get(q.id).contains(q.source))
        }
      }
    }
    val end = System.nanoTime()
    PassOut((end - t0) / 1e9, in.queryBatches.map(_.size.toLong).sum, (end - loop0) / 1e9,
      in.bytes)
  }

  def check(ns: String, out: PassOut, ops: Ops): Verdict = {
    val total = in.queryBatches.map(_.size.toLong).sum
    val recall = hits.toDouble / total
    ops.check("every query answered")(answered == total, s"$answered of $total")
    ops.check("recall@1 >= 0.9")(recall >= 0.9, s"recall@1 $recall")
    Verdict(Map("similarity.recall_at_1" -> recall))
  }
}
