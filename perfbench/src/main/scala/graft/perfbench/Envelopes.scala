package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Seeded Debezium change-event generator for the four reference tables
  * (customers, products, orders, order_items), and the truth its own fold
  * gives. The fold never touches `graft.operators.Cdc`, so the checks that
  * compare the program's state against it are independent of the code they
  * audit.
  *
  * DML mix (the reference's test generator): a snapshot of `r` events, then
  * rounds of at most 10 updates per customers/products/orders, deletes of at
  * most 5% + 1 of the round's eligible rows, and inserts of new orders with
  * 1 to 3 items each.
  *
  * Faults, each a share of the emitted envelopes:
  *  - redelivered duplicates: a verbatim copy of an earlier event of the same
  *    table, placed later in the same file;
  *  - LSNs start a few thousand events below the 32-bit hi/lo word
  *    boundary and advance by random steps, so every input crosses
  *    `0/FFFFxxxx → 1/xx` and many pairs order differently lexically than
  *    numerically;
  *  - unknown top-level fields (a Debezium `transaction` block) that the
  *    explicit read schema drops.
  */
object Envelopes {
  val Tables: Seq[String] = Seq("customers", "products", "orders", "order_items")

  sealed trait V
  final case class L(v: Long) extends V
  final case class S(v: String) extends V
  /** Exact decimal with two fractional digits, held as cents. */
  final case class Dec(cents: Long) extends V
  /** Timestamp as epoch seconds. */
  final case class Ts(sec: Long) extends V

  type Image = Vector[(String, V)]

  final case class Event(table: String, id: Long, op: String, lsn: Long,
      tsMs: Long, before: Option[Image], after: Option[Image], txn: Boolean) {
    def image: Image = if (op == "d") before.get else after.get
  }

  /** Snapshot sizes and fault shares; the caller decides how many DML
    * rounds follow the snapshot.
    */
  final case class Mix(customers: Int, products: Int, orders: Int,
      dupShare: Double = 0.02, unknownShare: Double = 0.01)

  /** Postgres `X/Y` rendering of a 64-bit WAL position. */
  def lsnString(lsn: Long): String =
    f"${lsn >>> 32}%X/${lsn & 0xFFFFFFFFL}%X"

  private val Statuses = Vector("pending", "processing", "shipped",
    "delivered", "cancelled")
  private val Categories = Vector("tools", "toys", "books", "garden",
    "kitchen", "sports")
  private val Streets = Vector("Elm St", "Oak Ave", "Pine Rd", "Birch Ln",
    "Maple Dr", "Cedar Ct")
  private val Epoch0 = 1704067200L // 2024-01-01T00:00:00Z

  /** Live rows of one table with O(1) uniform picks and removals. */
  private final class Live {
    val ids = mutable.ArrayBuffer.empty[Long]
    val rows = mutable.HashMap.empty[Long, Image]
    private val pos = mutable.HashMap.empty[Long, Int]
    def size: Int = ids.size
    def put(id: Long, r: Image): Unit = {
      if (!rows.contains(id)) { pos(id) = ids.size; ids += id }
      rows(id) = r
    }
    def remove(id: Long): Option[Image] = rows.remove(id).map { r =>
      val i = pos.remove(id).get
      val last = ids.remove(ids.size - 1)
      if (last != id) { ids(i) = last; pos(last) = i }
      r
    }
  }

  /** Stateful generator. The same seed and call sequence give the same
    * events; nothing reads the clock.
    */
  final class Gen(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    // a few thousand events below the 32-bit word boundary
    private var lsn = (1L << 32) - 32L * (2000 + rnd.nextInt(2000))
    private var clock = Epoch0 + rnd.nextInt(86400)
    private val nextId = mutable.Map(Tables.map(_ -> 1L): _*)
    private val live = Tables.map(_ -> new Live).toMap
    private val itemsOf = mutable.HashMap.empty[Long, mutable.Set[Long]]

    // one second of source time per four events on average: ~30k events
    // span about two hours, so the time-partitioned lake gets a few hour
    // partitions rather than one per file
    private def tick(): Unit = {
      lsn += 1 + rnd.nextInt(64)
      if (rnd.nextInt(4) == 0) clock += 1
    }
    private def price(max: Int): Dec = Dec(100 + rnd.nextInt(max * 100))
    private def street(id: Long) = s"$id ${Streets(rnd.nextInt(Streets.size))}"

    private def newRow(table: String, id: Long): Image = {
      val ts = Ts(clock)
      table match {
        case "customers" => Vector("id" -> L(id), "name" -> S(s"customer $id"),
          "email" -> S(s"c$id@example.com"), "address" -> S(street(id)),
          "created_at" -> ts, "updated_at" -> ts)
        case "products" => Vector("id" -> L(id), "name" -> S(s"product $id"),
          "description" -> S(s"item ${rnd.nextInt(1000)}"), "price" -> price(500),
          "stock" -> L(rnd.nextInt(1000)),
          "category" -> S(Categories(rnd.nextInt(Categories.size))),
          "created_at" -> ts, "updated_at" -> ts)
        case "orders" =>
          val c = pick("customers").getOrElse(1L)
          Vector("id" -> L(id), "customer_id" -> L(c), "order_date" -> ts,
            "status" -> S("pending"), "total_amount" -> price(2000),
            "shipping_address" -> S(street(c)), "created_at" -> ts,
            "updated_at" -> ts)
        case "order_items" =>
          Vector("id" -> L(id), "order_id" -> L(nextId("orders") - 1),
            "product_id" -> L(pick("products").getOrElse(1L)),
            "quantity" -> L(1 + rnd.nextInt(9)), "unit_price" -> price(500),
            "created_at" -> ts, "updated_at" -> ts)
      }
    }

    private def pick(table: String): Option[Long] = {
      val m = live(table)
      if (m.size == 0) None else Some(m.ids(rnd.nextInt(m.size)))
    }

    private def changed(table: String, row: Image): Image = {
      val ts = Ts(clock)
      row.map {
        case ("updated_at", _) => "updated_at" -> ts
        case ("email", _) if table == "customers" =>
          "email" -> S(s"c${row.head._2.asInstanceOf[L].v}.${rnd.nextInt(1000)}@example.com")
        case ("price", _) => "price" -> price(500)
        case ("stock", _) => "stock" -> L(rnd.nextInt(1000))
        case ("status", _) => "status" -> S(Statuses(rnd.nextInt(Statuses.size)))
        case kv => kv
      }
    }

    private def emit(table: String, id: Long, op: String, before: Option[Image],
        after: Option[Image]): Event = {
      tick()
      Event(table, id, op, lsn, clock * 1000 + rnd.nextInt(1000), before,
        after, false)
    }

    private def insert(table: String, op: String): Event = {
      val id = nextId(table); nextId(table) = id + 1
      tick()
      val row = newRow(table, id)
      live(table).put(id, row)
      if (table == "order_items")
        itemsOf.getOrElseUpdate(row(1)._2.asInstanceOf[L].v,
          mutable.LinkedHashSet.empty[Long]) += id
      Event(table, id, op, lsn, clock * 1000, None, Some(row), false)
    }

    /** The initial snapshot: `r` events, 1 to 3 items per order. */
    def snapshot(mix: Mix): Seq[Event] = {
      val out = mutable.ArrayBuffer.empty[Event]
      (1 to mix.customers).foreach(_ => out += insert("customers", "r"))
      (1 to mix.products).foreach(_ => out += insert("products", "r"))
      (1 to mix.orders).foreach { _ =>
        out += insert("orders", "r")
        (1 to 1 + rnd.nextInt(3)).foreach(_ => out += insert("order_items", "r"))
      }
      out.toSeq
    }

    /** One DML round of the reference generator's shape. */
    def round(): Seq[Event] = {
      val out = mutable.ArrayBuffer.empty[Event]
      val touched = mutable.ArrayBuffer.empty[(String, Long)]
      for (t <- Seq("customers", "products", "orders")) {
        val n = math.min(1 + rnd.nextInt(10), live(t).size)
        (1 to n).flatMap(_ => pick(t)).distinct.foreach { id =>
          val before = live(t).rows(id)
          val after = changed(t, before)
          live(t).put(id, after)
          out += emit(t, id, "u", Some(before), Some(after))
          touched += (t -> id)
        }
      }
      // deletes: at most 5% + 1 of the round's eligible rows (its updated
      // orders plus their items), never a row the round already deleted
      val eligible = touched.filter(_._1 == "orders").flatMap { case (_, oid) =>
        ("orders" -> oid) +:
          itemsOf.getOrElse(oid, mutable.Set.empty[Long]).toSeq
            .map("order_items" -> _)
      }.distinct
      val nDel = rnd.nextInt((eligible.size * 0.05).toInt + 2)
      (0 until nDel).map(_ => eligible(rnd.nextInt(eligible.size))).distinct
        .foreach { case (t, id) =>
          live(t).remove(id).foreach { before =>
            if (t == "order_items")
              itemsOf.get(before(1)._2.asInstanceOf[L].v).foreach(_ -= id)
            out += emit(t, id, "d", Some(before), None)
          }
        }
      (1 to 1 + rnd.nextInt(3)).foreach { _ =>
        if (rnd.nextInt(10) == 0) out += insert("customers", "c")
        if (rnd.nextInt(20) == 0) out += insert("products", "c")
        out += insert("orders", "c")
        (1 to 1 + rnd.nextInt(3)).foreach(_ => out += insert("order_items", "c"))
      }
      out.toSeq
    }

    /** Apply the fault shares to one table's events, in emission order:
      * mark unknown-field envelopes, swap neighbours so file order is not
      * LSN order, and insert redelivered duplicates.
      */
    def withFaults(events: Seq[Event], mix: Mix): Seq[Event] = {
      val buf = events.map(e =>
        if (rnd.nextDouble() < mix.unknownShare) e.copy(txn = true) else e)
        .toArray
      var i = 1
      while (i < buf.length) {
        if (rnd.nextInt(4) == 0) {
          val t = buf(i); buf(i) = buf(i - 1); buf(i - 1) = t
        }
        i += 2
      }
      val out = mutable.ArrayBuffer.empty[Event]
      buf.foreach { e =>
        out += e
        if (out.size > 1 && rnd.nextDouble() < mix.dupShare)
          out += out(rnd.nextInt(out.size - 1))
      }
      out.toSeq
    }
  }

  // ---- rendering -------------------------------------------------------

  private def jsonStr(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  private def isoTs(sec: Long): String =
    java.time.Instant.ofEpochSecond(sec).toString

  private def jsonRow(r: Image, sb: java.lang.StringBuilder): Unit = {
    sb.append('{')
    var first = true
    r.foreach { case (k, v) =>
      if (!first) sb.append(','); first = false
      jsonStr(k, sb); sb.append(':')
      v match {
        case L(x) => sb.append(x)
        case S(x) => jsonStr(x, sb)
        case Dec(c) => sb.append(java.math.BigDecimal.valueOf(c, 2).toPlainString)
        case Ts(s) => jsonStr(isoTs(s), sb)
      }
    }
    sb.append('}')
  }

  /** One Debezium envelope as a JSON line (no trailing newline). */
  def json(e: Event): String = {
    val sb = new java.lang.StringBuilder(256)
    sb.append("{\"before\":")
    e.before.fold[Unit](sb.append("null"))(jsonRow(_, sb))
    sb.append(",\"after\":")
    e.after.fold[Unit](sb.append("null"))(jsonRow(_, sb))
    sb.append(",\"source\":{\"table\":\"").append(e.table)
      .append("\",\"lsn\":\"").append(lsnString(e.lsn))
      .append("\",\"ts_ms\":").append(e.tsMs)
      .append("},\"op\":\"").append(e.op).append("\",\"ts_ms\":")
      .append(e.tsMs)
    if (e.txn)
      sb.append(",\"transaction\":{\"id\":\"").append(e.lsn)
        .append("\",\"total_order\":1}")
    sb.append('}').toString
  }

  /** Write events as newline-delimited JSON; returns the bytes written. */
  def writeJsonl(path: Path, events: Seq[Event]): Long = {
    val sb = new java.lang.StringBuilder(events.size * 256)
    events.foreach(e => sb.append(json(e)).append('\n'))
    val bytes = sb.toString.getBytes(UTF_8)
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)
    bytes.length.toLong
  }

  // ---- truth -----------------------------------------------------------

  /** Winner per (table, id) by numeric LSN, deletes kept as tombstones. */
  def fold(events: Iterator[Event]): Map[(String, Long), Event] = {
    val m = mutable.HashMap.empty[(String, Long), Event]
    events.foreach { e =>
      val k = (e.table, e.id)
      m.get(k) match {
        case Some(w) if w.lsn >= e.lsn => ()
        case _ => m(k) = e
      }
    }
    m.toMap
  }

  /** Canonical text of one state row: lsn, op and the image's values. The
    * same rendering is applied to the program's rows, so both sides compare
    * as plain strings.
    */
  def canon(e: Event): String =
    (lsnString(e.lsn) +: e.op +: e.image.map {
      case (_, L(x)) => x.toString
      case (_, S(x)) => x
      case (_, Dec(c)) => java.math.BigDecimal.valueOf(c, 2).toPlainString
      case (_, Ts(s)) => s.toString
    }).mkString("|")

  /** Serving truth: (table, id) -> canonical row, soft deletes hidden. */
  def liveTruth(events: Iterator[Event]): Map[(String, Long), String] =
    fold(events).collect { case (k, e) if e.op != "d" => k -> canon(e) }

  /** The column order `canon` renders per table. */
  val Columns: Map[String, Seq[String]] = Map(
    "customers" -> Seq("id", "name", "email", "address", "created_at",
      "updated_at"),
    "products" -> Seq("id", "name", "description", "price", "stock",
      "category", "created_at", "updated_at"),
    "orders" -> Seq("id", "customer_id", "order_date", "status",
      "total_amount", "shipping_address", "created_at", "updated_at"),
    "order_items" -> Seq("id", "order_id", "product_id", "quantity",
      "unit_price", "created_at", "updated_at"))

  /** Render a program state row (unified columns) the way [[canon]] renders
    * a generator event.
    */
  def canonSpark(r: org.apache.spark.sql.Row): ((String, Long), String) = {
    val table = r.getAs[String]("table_name")
    val vals = Columns(table).map { c =>
      r.getAs[Any](c) match {
        case null => "null"
        case b: java.math.BigDecimal => b.toPlainString
        case t: java.sql.Timestamp => (t.getTime / 1000).toString
        case t: java.time.Instant => t.getEpochSecond.toString
        case x => x.toString
      }
    }
    (table, r.getAs[Long]("id")) ->
      (Seq(r.getAs[String]("lsn"), r.getAs[String]("op")) ++ vals).mkString("|")
  }

  /** Compare program state with truth; None when equal, else a reason. */
  def diff(got: Map[(String, Long), String],
      want: Map[(String, Long), String]): Option[String] = {
    if (got == want) None
    else {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val wrong = (want.keySet & got.keySet).filter(k => got(k) != want(k))
      val example = wrong.headOption.map(k =>
        s"; first differing key $k: got ${got(k)} want ${want(k)}").getOrElse("")
      Some(s"state differs from generator truth: ${missing.size} missing, " +
        s"${extra.size} extra (e.g. ${extra.take(2).mkString(",")}), " +
        s"${wrong.size} differing$example")
    }
  }
}
