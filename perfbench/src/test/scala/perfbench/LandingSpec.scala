package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LandingSpec extends AnyFunSuite {
  private val size = Landing.DefaultSize.copy(accounts = 400, batches = 3)

  test("the same seed gives identical landing data") {
    val a = Landing.generate(7, size)
    val b = Landing.generate(7, size)
    assert(a == b)
    assert(a.digest == b.digest)
  }

  test("different seeds give different account-change and churn sets") {
    def changes(z: Landing.Zone) = z.batches.tail.map(_.accounts.map(_.id).toSet)
    def churns(z: Landing.Zone) = z.batches.tail.map(_.subs.filter(_.churn).map(_.id).toSet)
    val a = Landing.generate(7, size)
    val b = Landing.generate(8, size)
    assert(a.digest != b.digest)
    assert(changes(a) != changes(b))
    assert(churns(a) != churns(b))
    assert(churns(a).forall(_.nonEmpty))
  }

  test("churn dates fall inside the months their batch adds") {
    val z = Landing.generate(11, size)
    z.batches.tail.foreach { b =>
      val from = z.batches(b.index - 1).dateEnd.plusDays(1)
      b.subs.filter(_.churn).foreach { s =>
        val end = s.end.get
        assert(!end.isBefore(from) && !end.isAfter(b.dateEnd), s"${s.id} ends $end outside $from..${b.dateEnd}")
        assert(!end.isBefore(s.start))
      }
    }
  }

  test("keys are unique per batch and accounts load before their subscriptions") {
    val z = Landing.generate(3, size)
    var known = Set.empty[String]
    z.batches.foreach { b =>
      assert(b.accounts.map(_.id).distinct.size == b.accounts.size)
      assert(b.subs.map(_.id).distinct.size == b.subs.size)
      known ++= b.accounts.map(_.id)
      assert(b.subs.forall(s => known(s.account)))
      assert(b.subs.forall(s => s.end.forall(e => !e.isBefore(s.start))))
      assert(b.subs.forall(s => !s.start.isAfter(b.dateEnd)))
    }
  }

  test("end-of-month MRR counts only paid subscriptions active at month end") {
    val a = Landing.Account("A1", "n", "retail", "US", java.time.LocalDate.of(2000, 1, 1),
      "organic", "Basic", 1, isTrial = false)
    def sub(id: String, start: String, end: Option[String], cents: Long, trial: Boolean = false) =
      Landing.Sub(id, "A1", java.time.LocalDate.parse(start), end.map(java.time.LocalDate.parse),
        "Basic", 1, cents, trial, annual = false, autoRenew = true, upgrade = false,
        downgrade = false, churn = false)
    val jan = java.time.LocalDate.of(2001, 1, 1)
    val z = Landing.Zone(Vector(Landing.Batch(0, java.time.Instant.EPOCH, java.time.LocalDate.of(2001, 1, 31),
      Vector(a), Vector(
        sub("S1", "2000-06-01", None, 1000),
        sub("S2", "2000-06-01", Some("2001-01-30"), 2000), // ends before the last day
        sub("S3", "2000-06-01", Some("2001-01-31"), 4000), // active on the last day
        sub("S4", "2001-01-31", None, 8000),
        sub("S5", "2001-02-01", None, 16000), // starts next month
        sub("S6", "2000-06-01", None, 32000, trial = true)), Vector())))
    assert(z.endOfMonth(jan) == (13000L, 1L))
  }
}
