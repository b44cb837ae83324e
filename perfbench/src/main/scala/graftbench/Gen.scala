package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators for the three workloads.
  *
  * Every generator is a pure function of (seed, size): it draws from its own
  * `SplittableRandom` streams and writes plain text files (CSV or JSON lines)
  * with fixed formatting, so the same seed gives byte-identical files on any
  * JVM. The generators also return what the correctness checks need to know
  * about the inputs (planted failures, planted duplicates, query sources);
  * the program under test only ever sees the files.
  */
object Gen {

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Write lines through `body`; returns the file's size in bytes. */
  private def write(f: File)(body: BufferedWriter => Unit): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try body(w) finally w.close()
    f.length()
  }

  /** Fixed two-decimal rendering of an amount in cents. */
  private def cents(c: Long): String = {
    val a = math.abs(c)
    val frac = a % 100
    (if (c < 0) "-" else "") + (a / 100) + (if (frac < 10) ".0" else ".") + frac
  }

  private def day(epochDay: Int): String = java.time.LocalDate.ofEpochDay(epochDay).toString

  private def timestamp(epochSec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(epochSec, 0, java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ') match {
      case s if s.length == 16 => s + ":00" // LocalDateTime drops ":00" seconds
      case s => s
    }

  // ------------------------------------------------------------ dbt project

  /** Expected generic-test failure counts and live-entity count for one
    * state of the source system (after the initial load, or after a round).
    */
  final case class DbtExpect(nullCustomer: Long, badStatusValues: Long,
      negativePrice: Long, orphanOrders: Long, liveCustomers: Long)

  final case class DbtInputs(dir: File, rounds: Int,
      changeRows: IndexedSeq[Long], expect: IndexedSeq[DbtExpect], bytes: Long) {
    def file(name: String): String = new File(dir, name).getAbsolutePath
  }

  val Nations: Seq[(String, String)] = Seq(
    "ALGERIA" -> "AFRICA", "ARGENTINA" -> "AMERICA", "BRAZIL" -> "AMERICA",
    "CANADA" -> "AMERICA", "EGYPT" -> "MIDDLE EAST", "ETHIOPIA" -> "AFRICA",
    "FRANCE" -> "EUROPE", "GERMANY" -> "EUROPE", "INDIA" -> "ASIA",
    "INDONESIA" -> "ASIA", "IRAN" -> "MIDDLE EAST", "IRAQ" -> "MIDDLE EAST",
    "JAPAN" -> "ASIA", "JORDAN" -> "MIDDLE EAST", "KENYA" -> "AFRICA",
    "MOROCCO" -> "AFRICA", "MOZAMBIQUE" -> "AFRICA", "PERU" -> "AMERICA",
    "CHINA" -> "ASIA", "ROMANIA" -> "EUROPE", "SAUDI ARABIA" -> "MIDDLE EAST",
    "VIETNAM" -> "ASIA", "RUSSIA" -> "EUROPE", "UNITED KINGDOM" -> "EUROPE",
    "UNITED STATES" -> "AMERICA")
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses: Seq[String] = Seq("F", "O", "P")
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes: Seq[String] = Seq("view", "click", "cart", "purchase")

  /** First order date and the day the initial load ends; round r lands on
    * `Day0 + r`. Nineteen months of history keep the month-partitioned
    * model at a realistic partition count without making its first build a
    * test of how fast the filesystem creates hundreds of small files.
    */
  val FirstDay: Int = java.time.LocalDate.parse("1997-01-01").toEpochDay.toInt
  val Day0: Int = java.time.LocalDate.parse("1998-08-02").toEpochDay.toInt

  /** A TPC-H-shaped source system at scale factor `sf`, plus `rounds`
    * change batches. Files:
    *   - `nation_region.csv` (the seed), `customer_0.csv`, `orders.csv`,
    *     `lineitem.csv`, `events.csv` — the initial source tables;
    *   - per round r: `orders_r.csv` (about 1 % updated recent orders plus
    *     new orders), `lineitem_r.csv` (the new orders' lines),
    *     `customer_r.csv` (the full customer table after updates, a few
    *     deletions and new customers) and `events_r.csv` (one day);
    *   - `final_orders.csv` — the accumulated orders source after the last
    *     round, the input of the full-refresh comparison.
    * Planted test failures: a few orders with a null customer, an
    * unaccepted status, or a negative price; deleted customers leave
    * orphan orders behind.
    */
  def dbt(dir: File, seed: Long, sf: Double, rounds: Int): DbtInputs = {
    val nCust0 = math.max(100, (150000 * sf).toInt)
    val nOrders0 = math.max(1000, (1500000 * sf).toInt)
    val nEvents0 = math.max(1000, (1000000 * sf).toInt)
    val newOrdersPerRound = math.max(10, nOrders0 / 500)
    val updatesPerRound = math.max(10, nOrders0 / 100)
    val custUpdatesPerRound = math.max(5, nCust0 / 100)
    val newCustPerRound = math.max(2, nCust0 / 1000)
    val deletesPerRound = 3
    val eventsPerRound = nEvents0 / 30
    val maxOrders = nOrders0 + rounds * newOrdersPerRound
    val maxCust = nCust0 + rounds * newCustPerRound

    // Source-system state.
    val oCust = new Array[Long](maxOrders + 1) // -1 = null customer
    val oStatus = new Array[String](maxOrders + 1)
    val oPrice = new Array[Long](maxOrders + 1)
    val oDate = new Array[Int](maxOrders + 1)
    val oPrio = new Array[String](maxOrders + 1)
    var nOrders = 0
    var lineRows = 0L
    val cName = new Array[String](maxCust + 1)
    val cNation = new Array[Int](maxCust + 1)
    val cBal = new Array[Long](maxCust + 1)
    val cSeg = new Array[String](maxCust + 1)
    val cAddr = new Array[String](maxCust + 1)
    val cLive = new Array[Boolean](maxCust + 1)
    var nCust = 0
    val live = mutable.ArrayBuffer.empty[Int] // live customer keys, for sampling

    val rc = rng(seed, 1); val ro = rng(seed, 2); val rl = rng(seed, 3)
    val re = rng(seed, 4); val rr = rng(seed, 5)
    def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def addr(r: SplittableRandom): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < 12) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
      sb.toString
    }
    def newCustomer(): Unit = {
      nCust += 1
      val k = nCust
      cName(k) = f"Customer#$k%09d"
      cNation(k) = rc.nextInt(Nations.size)
      cBal(k) = rc.nextLong(-99999L, 999999L)
      cSeg(k) = pick(rc, Segments)
      cAddr(k) = addr(rc)
      cLive(k) = true
      live += k
    }
    def liveCustomer(r: SplittableRandom): Int = live(r.nextInt(live.size))
    def newOrder(date: Int, lines: BufferedWriter): Unit = {
      nOrders += 1
      val k = nOrders
      oCust(k) = liveCustomer(ro)
      oStatus(k) = pick(ro, Statuses)
      oDate(k) = date
      oPrio(k) = pick(ro, Priorities)
      val nLines = 1 + rl.nextInt(7)
      var total = 0L
      var ln = 1
      while (ln <= nLines) {
        val qty = 1 + rl.nextInt(50)
        val price = qty * rl.nextLong(90000L, 210000L) / 100
        val disc = rl.nextInt(11)
        total += price * (100 - disc) / 100
        lineRows += 1
        lines.write(s"$k,$ln,$qty,${cents(price)},0.${if (disc < 10) "0" else ""}$disc," +
          s"${day(date + 1 + rl.nextInt(120))}\n")
        ln += 1
      }
      oPrice(k) = total
    }
    def orderRow(k: Int): String =
      s"$k,${if (oCust(k) < 0) "" else oCust(k).toString},${oStatus(k)}," +
        s"${cents(oPrice(k))},${day(oDate(k))},${oPrio(k)}\n"
    def customerRows(w: BufferedWriter): Unit = {
      w.write("c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment,c_address\n")
      var k = 1
      while (k <= nCust) {
        if (cLive(k))
          w.write(s"$k,${cName(k)},${cNation(k)},${cents(cBal(k))},${cSeg(k)},${cAddr(k)}\n")
        k += 1
      }
    }
    val EventsHeader = "event_id,ts,user_id,event_type,value\n"
    var nEvents = 0L
    /** Sessions of 1–8 events, 10–600 s apart, starting within the day
      * range [fromDay, toDay]. */
    def events(w: BufferedWriter, n: Int, fromDay: Int, toDay: Int): Unit = {
      var left = n
      while (left > 0) {
        val user = liveCustomer(re)
        var ts = (fromDay.toLong + re.nextInt(toDay - fromDay + 1)) * 86400L +
          re.nextInt(86400 - 8 * 600)
        var burst = math.min(left, 1 + re.nextInt(8))
        while (burst > 0) {
          nEvents += 1
          w.write(s"$nEvents,${timestamp(ts)},$user,${pick(re, EventTypes)}," +
            s"${cents(re.nextLong(0L, 50000L))}\n")
          ts += 10 + re.nextInt(591)
          burst -= 1; left -= 1
        }
      }
    }
    def expect(): DbtExpect = {
      var nulls = 0L; var bad = false; var neg = 0L; var orphans = 0L
      var k = 1
      while (k <= nOrders) {
        if (oCust(k) < 0) nulls += 1
        else if (!cLive(oCust(k).toInt)) orphans += 1
        if (!Statuses.contains(oStatus(k))) bad = true
        if (oPrice(k) < 0) neg += 1
        k += 1
      }
      DbtExpect(nulls, if (bad) 1L else 0L, neg, orphans, live.size.toLong)
    }

    var bytes = 0L
    bytes += write(new File(dir, "nation_region.csv")) { w =>
      w.write("n_nationkey,n_name,r_name\n")
      Nations.zipWithIndex.foreach { case ((n, r), i) => w.write(s"$i,$n,$r\n") }
    }
    (1 to nCust0).foreach(_ => newCustomer())
    bytes += write(new File(dir, "customer_0.csv"))(customerRows)
    bytes += write(new File(dir, "lineitem.csv")) { lw =>
      lw.write("l_orderkey,l_linenumber,l_quantity,l_extendedprice,l_discount,l_shipdate\n")
      (1 to nOrders0).foreach(_ => newOrder(FirstDay + ro.nextInt(Day0 - FirstDay + 1), lw))
    }
    // Planted generic-test failures, on orders too old to be updated later.
    val planted = mutable.HashSet.empty[Int]
    def plant(n: Int)(f: Int => Unit): Unit = {
      var left = n
      while (left > 0) {
        val k = 1 + rr.nextInt(nOrders0)
        if (oDate(k) < Day0 - 365 && planted.add(k)) { f(k); left -= 1 }
      }
    }
    plant(5)(k => oCust(k) = -1)
    plant(7)(k => oStatus(k) = "X")
    plant(9)(k => oPrice(k) = -oPrice(k) - 1)
    val OrdersHeader =
      "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority\n"
    bytes += write(new File(dir, "orders.csv")) { w =>
      w.write(OrdersHeader)
      (1 to nOrders).foreach(k => w.write(orderRow(k)))
    }
    bytes += write(new File(dir, "events.csv")) { w =>
      w.write(EventsHeader)
      events(w, nEvents0, Day0 - 29, Day0)
    }
    val expects = mutable.ArrayBuffer(expect())
    val changeRows = mutable.ArrayBuffer.empty[Long]

    (1 to rounds).foreach { r =>
      val today = Day0 + r
      var rows = 0L
      // Updated orders: recent, unplanted, each key at most once per batch.
      val recent = (1 to nOrders).filter(k => oDate(k) >= today - 90 && !planted(k))
      val updated = mutable.LinkedHashSet.empty[Int]
      while (updated.size < math.min(updatesPerRound, recent.size))
        updated += recent(rr.nextInt(recent.size))
      updated.foreach { k =>
        oStatus(k) = pick(rr, Statuses)
        oPrice(k) = oPrice(k) * (90 + rr.nextInt(21)) / 100
      }
      val firstNew = nOrders + 1
      val lineRows0 = lineRows
      bytes += write(new File(dir, s"lineitem_$r.csv")) { lw =>
        lw.write("l_orderkey,l_linenumber,l_quantity,l_extendedprice,l_discount,l_shipdate\n")
        (1 to newOrdersPerRound).foreach(_ => newOrder(today, lw))
      }
      rows += lineRows - lineRows0
      bytes += write(new File(dir, s"orders_$r.csv")) { w =>
        w.write(OrdersHeader)
        (updated.toSeq ++ (firstNew to nOrders)).foreach(k => w.write(orderRow(k)))
      }
      rows += updated.size + (nOrders - firstNew + 1)
      // Customers: updates, hard deletes, new entities.
      val touched = mutable.LinkedHashSet.empty[Int]
      while (touched.size < custUpdatesPerRound) touched += liveCustomer(rc)
      touched.foreach { k =>
        rc.nextInt(3) match {
          case 0 => cBal(k) = rc.nextLong(-99999L, 999999L)
          case 1 => cSeg(k) = pick(rc, Segments)
          case _ => cAddr(k) = addr(rc)
        }
      }
      (1 to deletesPerRound).foreach { _ =>
        val i = rc.nextInt(live.size)
        cLive(live(i)) = false
        live(i) = live.last
        live.remove(live.size - 1)
      }
      (1 to newCustPerRound).foreach(_ => newCustomer())
      rows += custUpdatesPerRound + deletesPerRound + newCustPerRound
      bytes += write(new File(dir, s"customer_$r.csv"))(customerRows)
      bytes += write(new File(dir, s"events_$r.csv")) { w =>
        w.write(EventsHeader)
        events(w, eventsPerRound, today, today)
      }
      rows += eventsPerRound
      changeRows += rows
      expects += expect()
    }
    // Read only by the full-refresh check, so not counted as workload input.
    write(new File(dir, "final_orders.csv")) { w =>
      w.write(OrdersHeader)
      (1 to nOrders).foreach(k => w.write(orderRow(k)))
    }
    DbtInputs(dir, rounds, changeRows.toIndexedSeq, expects.toIndexedSeq, bytes)
  }

  // ------------------------------------------------------------ corpus

  /** `cleanText` holds, for every document cleaning must keep (uniques and
    * planted duplicates), the text C4 line cleaning must leave. */
  final case class CorpusInputs(batchFiles: IndexedSeq[File], uniques: Set[Long],
      plantedDups: Set[Long], junk: Set[Long], cleanText: Map[Long, String], docs: Long,
      bytes: Long)

  val Stopwords: Seq[String] = Seq("the", "of", "and", "to", "with", "that", "in", "for")
  private val Boilerplate: Seq[String] = Seq(
    "Please enable JavaScript to view the comments on this page.",
    "Share this article",
    "Copyright all rights reserved",
    "Read more",
    "Subscribe to our newsletter for weekly updates")

  /** A document corpus ingested in `batches` batches of `batchSize`
    * (`batch_i.jsonl`, lines `{"id":…,"text":…}`, ids increasing). About
    * 78 % of documents are unique, 8 % exact duplicates of an earlier unique
    * document under different boilerplate lines (identical after cleaning),
    * 8 % near duplicates (two content words substituted, 3-shingle Jaccard
    * ≈ 0.9) and 6 % junk pages that C4/Gopher cleaning must drop (a leaked
    * code brace, placeholder text, or fewer than three sentences). The
    * original of a duplicate is drawn from all unique documents so far, the
    * current batch included, so both the within-batch and the
    * against-accepted paths are exercised.
    */
  def corpus(dir: File, seed: Long, batches: Int, batchSize: Int): CorpusInputs = {
    val r = rng(seed, 11)
    val vocab: IndexedSeq[String] = {
      val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < 6000) {
        val sb = new StringBuilder
        val syl = 2 + r.nextInt(3)
        (1 to syl).foreach { _ =>
          sb.append(cons(r.nextInt(cons.length))).append(vow(r.nextInt(vow.length)))
        }
        if (r.nextBoolean()) sb.append(cons(r.nextInt(cons.length)))
        val w = sb.toString
        if (!Stopwords.contains(w)) seen += w
      }
      seen.toIndexedSeq
    }
    val bases = mutable.ArrayBuffer.empty[IndexedSeq[IndexedSeq[String]]]
    val uniques = mutable.HashSet.empty[Long]
    val dups = mutable.HashSet.empty[Long]
    val junk = mutable.HashSet.empty[Long]
    val clean = mutable.HashMap.empty[Long, String]
    var id = 0L
    def line(words: Seq[String]): String = {
      val s = words.mkString(" ")
      s.head.toUpper.toString + s.tail + "."
    }
    /** Lines of words (no punctuation); stopwords at fixed slots so every
      * document passes Gopher's stopword rule and substitutions never
      * touch them. */
    def body(): IndexedSeq[IndexedSeq[String]] =
      (0 until 7 + r.nextInt(3)).map { li =>
        val n = 9 + r.nextInt(6)
        (0 until n).map { wi =>
          if (wi == 2) Stopwords(li % 2) // "the" / "of"
          else if (wi == 5) Stopwords(2 + (li % 6))
          else vocab(r.nextInt(vocab.size))
        }
      }
    def render(lines: Seq[Seq[String]], extra: Seq[String]): String = {
      val content = lines.map(line)
      clean(id) = content.mkString("\n")
      val slots = content.toBuffer
      extra.foreach(b => slots.insert(r.nextInt(slots.size + 1), b))
      slots.mkString("\n")
    }
    def boiler(): Seq[String] = (0 until r.nextInt(3)).map(_ => Boilerplate(r.nextInt(Boilerplate.size)))
    def json(id: Long, text: String): String =
      "{\"id\":" + id + ",\"text\":\"" +
        text.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\"}\n"

    var bytes = 0L
    val files = (0 until batches).map { b =>
      val f = new File(dir, s"batch_$b.jsonl")
      bytes += write(f) { w =>
        (0 until batchSize).foreach { _ =>
          id += 1
          val u = r.nextDouble()
          val text =
            if (u < 0.78 || bases.isEmpty) {
              val bd = body(); bases += bd; uniques += id
              render(bd, boiler())
            } else if (u < 0.86) {
              dups += id
              render(bases(r.nextInt(bases.size)), boiler())
            } else if (u < 0.94) {
              dups += id
              val src = bases(r.nextInt(bases.size))
              val edited = src.map(_.toArray)
              var subs = 0
              while (subs < 2) {
                val li = r.nextInt(edited.length)
                val wi = r.nextInt(edited(li).length)
                if (wi != 2 && wi != 5) { edited(li)(wi) = vocab(r.nextInt(vocab.size)); subs += 1 }
              }
              render(edited.map(_.toIndexedSeq).toIndexedSeq, boiler())
            } else {
              junk += id
              r.nextInt(3) match {
                case 0 => render(body(), Seq("Call init() { return false; } when the page loads."))
                case 1 => render(body(), Seq("Lorem ipsum dolor sit amet, consectetur adipiscing elit."))
                case _ => render(body().take(2), Nil)
              }
            }
          w.write(json(id, text))
        }
      }
      f
    }
    CorpusInputs(files, uniques.toSet, dups.toSet, junk.toSet, clean.toMap -- junk, id, bytes)
  }

  // ------------------------------------------------------------ vectors

  final case class Query(id: Long, source: Long, vec: Array[Float])

  final case class AnnInputs(corpusFile: File, queryBatches: IndexedSeq[IndexedSeq[Query]],
      corpusSize: Int, dim: Int, bytes: Long)

  /** A 64-dim Gaussian mixture corpus (`vectors.jsonl`, lines
    * `{"id":…,"vec":[…]}`; 32 components, unit-variance centres, σ = 0.35
    * within a component) and `batches` query batches (`queries.jsonl`).
    * Each query is one corpus vector plus σ = 0.02 noise, so its source is
    * its nearest neighbour; query ids start at 10⁹ so they never collide
    * with corpus ids.
    */
  def ann(dir: File, seed: Long, corpusSize: Int, batches: Int, batchSize: Int,
      dim: Int = 64): AnnInputs = {
    val r = rng(seed, 21)
    val k = 32
    val centres = Array.fill(k, dim)(r.nextDouble() * 2 - 1)
    def gauss(): Double = { // Box–Muller, one value per call (reproducible)
      val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val vecs = Array.tabulate(corpusSize) { _ =>
      val c = centres(r.nextInt(k))
      Array.tabulate(dim)(d => (c(d) + 0.35 * gauss()).toFloat)
    }
    def json(id: Long, v: Array[Float], extra: String = ""): String =
      "{\"id\":" + id + extra + ",\"vec\":[" + v.mkString(",") + "]}\n"
    var bytes = write(new File(dir, "vectors.jsonl")) { w =>
      vecs.indices.foreach(i => w.write(json(i + 1L, vecs(i))))
    }
    var qid = 1000000000L
    val qs = (0 until batches).map { _ =>
      (0 until batchSize).map { _ =>
        val src = r.nextInt(corpusSize)
        qid += 1
        Query(qid, src + 1L, vecs(src).map(x => (x + 0.02 * gauss()).toFloat))
      }
    }
    bytes += write(new File(dir, "queries.jsonl")) { w =>
      qs.flatten.foreach(q => w.write(json(q.id, q.vec, ",\"source\":" + q.source)))
    }
    AnnInputs(new File(dir, "vectors.jsonl"), qs, corpusSize, dim, bytes)
  }
}
