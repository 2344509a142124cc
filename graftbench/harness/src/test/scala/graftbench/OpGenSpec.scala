package graftbench

import org.scalatest.funsuite.AnyFunSuite

class OpGenSpec extends AnyFunSuite {
  // the sf0.01 tables' domain: dense order keys and event ids
  private val d = Domain(orderKeyMin = 0, orderKeyCount = 15000, eventIdMin = 0, eventCount = 10000,
    shipDayMin = 9132, shipDayMax = 11630)
  private def ops(seed: Long, rounds: Int = 20): Seq[Op] =
    (0 until rounds).flatMap(OpGen.round(seed, _, d))

  /** What a slot is, without its keys: template and transport, or op kind. */
  private def shape(op: Op): String = op match {
    case r: Op.Read => s"${r.template}/${if (r.pg) "pg" else "http"}/${r.b}"
    case v: Op.Reval => s"reval/${v.stale}"
    case o => o.kind
  }

  test("the same seed gives the same op sequence") {
    assert(ops(7) == ops(7))
  }

  test("another seed changes keys, not the mix or the write positions") {
    val (a, b) = (ops(7), ops(8))
    assert(a.map(shape) == b.map(shape))
    assert(a != b)
    val writes = (s: Seq[Op]) => s.zipWithIndex.collect {
      case (_: Op.Insert | _: Op.Update | _: Op.Delete, i) => i
    }
    assert(writes(a) == writes(b))
    assert(writes(a).take(3) == OpGen.WriteSlots && OpGen.WriteSlots == Seq(1, 5, 9))
  }

  test("every UPDATE and DELETE key exists and none repeats") {
    Seq(1L, 7L, 42L, 20240601L).foreach { seed =>
      val keys = ops(seed, rounds = 1000).collect {
        case Op.Update(k, _) => k
        case Op.Delete(k) => k
      }
      assert(keys.size == 2000)
      assert(keys.forall(k => k >= d.orderKeyMin && k < d.orderKeyMin + d.orderKeyCount))
      assert(keys.distinct.size == keys.size, s"seed $seed repeats a DML key")
    }
  }

  test("reads stay inside the data and revalidations refer back to HTTP reads") {
    val seq = ops(3)
    seq.zipWithIndex.foreach {
      case (r: Op.Read, _) if r.template == "topk" =>
        assert(r.a >= d.eventIdMin && r.a + r.b <= d.eventIdMin + d.eventCount)
      case (r: Op.Read, _) if r.template != "inserted" && r.template != "groupby" =>
        assert(r.a >= d.orderKeyMin && r.a + math.max(1L, r.b) <= d.orderKeyMin + d.orderKeyCount, r)
      case (Op.Reval(ref, stale), i) =>
        assert(ref < i)
        seq(ref) match {
          case r: Op.Read =>
            assert(!r.pg)
            // stale exactly when a write since then touched the read's table
            val touched = seq.slice(ref + 1, i).exists {
              case _: Op.Insert => r.template == "topk"
              case _: Op.Update | _: Op.Delete => r.template == "point"
              case _ => false
            }
            assert(stale == touched, s"revalidation at $i of $r")
          case other => fail(s"revalidation of $other")
        }
      case _ => ()
    }
  }

  test("inserted event ids lie above the data and never collide") {
    val ids = ops(5, rounds = 200).collect {
      case Op.Insert(first, rows) => first until first + rows
    }.flatten
    assert(ids.min > d.eventIdMax)
    assert(ids.distinct.size == ids.size)
  }

  test("every run reports exactly the metrics BENCHMARK.json names, with their units") {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../../BENCHMARK.json"))
    def declared(key: String): Map[String, String] = {
      val it = spec.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText -> m.get("unit").asText).toMap
    }
    val rec = new Recorder(null, Some(new Trace), None)
    val e2e = Main.endToEnd(rec, 1.0, 1.0).map { case (n, _, u) => n -> u }.toMap
    assert(e2e == declared("end_to_end"))
    // host.calib_ms is measured by run.py before the JVM starts
    val layers = Main.perLayer(rec, None, 0.0, 0.0, (0.0, 0.0)).map { case (n, _, u) => n -> u }.toMap
    assert(layers + ("host.calib_ms" -> "ms") == declared("per_layer"))
  }
}
