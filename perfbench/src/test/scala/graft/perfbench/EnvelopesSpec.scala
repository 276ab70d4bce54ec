package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

class EnvelopesSpec extends AnyFunSuite {
  import Envelopes._

  private val mix = Mix(customers = 200, products = 50, orders = 300)
  private val rounds = 400

  private def events(seed: Long): Seq[Event] = {
    val g = new Gen(seed)
    val base = g.snapshot(mix) ++ (1 to rounds).flatMap(_ => g.round())
    Tables.flatMap(t => g.withFaults(base.filter(_.table == t), mix))
  }

  private def bytes(seed: Long): Array[Byte] =
    events(seed).map(json).mkString("\n").getBytes(UTF_8)

  test("the same seed gives identical bytes, another seed different bytes") {
    assert(java.util.Arrays.equals(bytes(7), bytes(7)))
    assert(!java.util.Arrays.equals(bytes(7), bytes(8)))
  }

  test("the DML mix has snapshot reads, updates, deletes and inserts") {
    val ops = events(1).groupBy(_.op).map { case (op, es) => op -> es.size }
    assert(Set("r", "u", "d", "c").subsetOf(ops.keySet), ops)
    // at most 10 updates per table per round
    assert(ops("u") <= rounds * 30)
  }

  test("each fault share shows up") {
    val es = events(2)
    assert(es.size > es.distinct.size, "no redelivered duplicate")
    assert(es.exists(_.txn) && es.filter(_.txn).forall(e => json(e).contains("\"transaction\"")))
    val lsns = es.map(_.lsn)
    assert(lsns.exists(_ < (1L << 32)) && lsns.exists(_ >= (1L << 32)),
      "LSNs do not cross the hi/lo word boundary")
    val byString = lsns.distinct.sortBy(lsnString)
    assert(byString != lsns.distinct.sorted, "lexical order equals numeric order")
    // file order is not LSN order within a table
    val orders = es.filter(_.table == "orders").map(_.lsn)
    assert(orders != orders.sorted)
  }

  test("the truth fold keeps the highest LSN per key and hides deletes") {
    val es = events(3)
    val truth = liveTruth(es.iterator)
    val deleted = fold(es.iterator).collect { case (k, e) if e.op == "d" => k }
    assert(deleted.nonEmpty)
    assert(deleted.forall(k => !truth.contains(k)))
    // redelivery does not change the state
    assert(liveTruth((es ++ es.take(500)).iterator) == truth)
  }
}
