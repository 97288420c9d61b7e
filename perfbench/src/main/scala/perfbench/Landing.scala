package perfbench

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The `warehouse` workload's landing zone: an initial load plus
  * incremental batches of the three raw sources the finance DAG reads
  * (`raw_accounts`, `raw_subscriptions`, `raw_support_tickets`), with the
  * full reference column sets. Everything is derived from the seed, so
  * the same seed gives the same rows in the same order, and two seeds
  * give different account-change and churn sets.
  *
  * The batches are valid by construction: every subscription's account
  * is loaded no later than the subscription, every key appears at most
  * once per batch, and a churn date re-sent in batch b falls inside the
  * months batch b adds to the calendar, so it lies inside the rolling
  * restatement window and every declared check stays green.
  */
object Landing {

  final case class Account(id: String, name: String, industry: String,
      country: String, signup: LocalDate, referral: String, tier: String,
      seats: Int, isTrial: Boolean)

  final case class Sub(id: String, account: String, start: LocalDate,
      end: Option[LocalDate], tier: String, seats: Int, mrrCents: Long,
      isTrial: Boolean, annual: Boolean, autoRenew: Boolean,
      upgrade: Boolean, downgrade: Boolean, churn: Boolean)

  final case class Ticket(id: String, account: String,
      submitted: LocalDateTime, closed: Option[LocalDateTime],
      priority: String, firstResponseMinutes: Int, satisfaction: Int,
      escalated: Boolean)

  /** One ingestion batch. `dateEnd` is the calendar end (`Vars.dateEnd`)
    * the build of this batch runs with. */
  final case class Batch(index: Int, ingestedAt: Instant, dateEnd: LocalDate,
      accounts: Vector[Account], subs: Vector[Sub], tickets: Vector[Ticket])

  /** Sizes of the initial load and of each incremental batch. Rates are
    * shares of the accounts (or open subscriptions) known so far. */
  final case class Size(accounts: Int, subsPerAccount: Int, batches: Int,
      monthsPerBatch: Int, newAccountRate: Double, newSubRate: Double,
      changeRate: Double, churnRate: Double, ticketRate: Double)

  val DefaultSize = Size(accounts = 2000, subsPerAccount = 5, batches = 3,
    monthsPerBatch = 2, newAccountRate = 0.01, newSubRate = 0.28,
    changeRate = 0.011, churnRate = 0.0035, ticketRate = 0.05)

  val CalendarStart: LocalDate = LocalDate.of(2000, 1, 1)
  val InitialEnd: LocalDate = LocalDate.of(2001, 1, 31)

  private val Industries = Vector("software", "retail", "finance", "health",
    "education", "media", "logistics", "energy")
  private val Countries = Vector("US", "DE", "GB", "FR", "BR", "JP")
  private val Referrals = Vector("organic", "partner", "paid_search", "event", "outbound")
  private val Tiers = Vector("Basic", "Pro", "Enterprise")
  private val Priorities = Vector("low", "medium", "high", "urgent")

  final case class Zone(batches: Vector[Batch]) {
    def finalMonth: LocalDate = batches.last.dateEnd.withDayOfMonth(1)

    /** Stable text form of every row, in load order. */
    def canonical: Iterator[String] = batches.iterator.flatMap { b =>
      Iterator(s"batch ${b.index} ${b.ingestedAt} ${b.dateEnd}") ++
        b.accounts.iterator.map(_.toString) ++ b.subs.iterator.map(_.toString) ++
        b.tickets.iterator.map(_.toString)
    }

    /** SHA-256 of [[canonical]]: equal seeds give equal digests. */
    def digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      canonical.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }

    /** The latest version of every subscription, by load order. */
    def currentSubs: Iterable[Sub] =
      batches.flatMap(_.subs).foldLeft(Map.empty[String, Sub])((m, s) => m + (s.id -> s)).values

    def currentAccounts: Iterable[Account] =
      batches.flatMap(_.accounts).foldLeft(Map.empty[String, Account])((m, a) => m + (a.id -> a)).values

    /** End-of-month MRR (cents) and active-account count of `month`,
      * computed from the landing rows alone: a subscription counts at
      * the end of a month when it started before the next month and did
      * not end before the month's last day, and trials count zero. */
    def endOfMonth(month: LocalDate): (Long, Long) = {
      val next = month.plusMonths(1)
      val eom = next.minusDays(1)
      val perAccount = currentSubs.iterator
        .filter(s => !s.isTrial && s.start.isBefore(next) && s.end.forall(e => !e.isBefore(eom)))
        .foldLeft(Map.empty[String, Long])((m, s) =>
          m.updated(s.account, m.getOrElse(s.account, 0L) + s.mrrCents))
      (perAccount.values.sum, perAccount.values.count(_ > 0).toLong)
    }

    def landingRows: Long = batches.map(b => b.accounts.size + b.subs.size + b.tickets.size).sum.toLong
  }

  private def pick[A](r: SplittableRandom, xs: Vector[A]): A = xs(r.nextInt(xs.size))

  private def dayIn(r: SplittableRandom, from: LocalDate, to: LocalDate): LocalDate =
    from.plusDays(r.nextLong(to.toEpochDay - from.toEpochDay + 1))

  private def mrrCents(r: SplittableRandom, tier: String): Long = tier match {
    case "Basic" => 2000L + r.nextLong(18000L)
    case "Pro" => 20000L + r.nextLong(80000L)
    case _ => 100000L + r.nextLong(500000L)
  }

  def generate(seed: Long, size: Size = DefaultSize): Zone = {
    val r = new SplittableRandom(seed)
    val accounts = scala.collection.mutable.LinkedHashMap.empty[String, Account]
    val subs = scala.collection.mutable.LinkedHashMap.empty[String, Sub]
    var nAccounts = 0
    var nSubs = 0
    var nTickets = 0

    def newAccount(from: LocalDate, to: LocalDate): Account = {
      nAccounts += 1
      val tier = Tiers(if (r.nextDouble() < 0.6) 0 else if (r.nextDouble() < 0.75) 1 else 2)
      Account(f"A$nAccounts%07d", s"Account $nAccounts", pick(r, Industries),
        pick(r, Countries), dayIn(r, from, to), pick(r, Referrals), tier,
        1 + r.nextInt(if (tier == "Enterprise") 500 else 50), r.nextDouble() < 0.08)
    }
    def newSub(a: Account, start: LocalDate, end: Option[LocalDate]): Sub = {
      nSubs += 1
      val tier = if (r.nextDouble() < 0.8) a.tier else pick(r, Tiers)
      Sub(f"S$nSubs%08d", a.id, start, end, tier, 1 + r.nextInt(100),
        mrrCents(r, tier), r.nextDouble() < 0.05, r.nextDouble() < 0.2,
        r.nextDouble() < 0.7, r.nextDouble() < 0.1, r.nextDouble() < 0.05, churn = false)
    }
    def tickets(n: Int, from: LocalDate, to: LocalDate): Vector[Ticket] = {
      val known = accounts.keysIterator.toVector
      Vector.fill(n) {
        nTickets += 1
        val at = dayIn(r, from, to).atStartOfDay().plusMinutes(r.nextInt(24 * 60))
        Ticket(f"T$nTickets%08d", pick(r, known), at,
          if (r.nextDouble() < 0.8) Some(at.plusMinutes(30 + r.nextInt(200 * 60))) else None,
          pick(r, Priorities), 1 + r.nextInt(600), 1 + r.nextInt(5), r.nextDouble() < 0.07)
      }
    }
    def ingested(b: Int): Instant =
      InitialEnd.plusDays(1).plusMonths(b.toLong * size.monthsPerBatch)
        .atStartOfDay().toInstant(ZoneOffset.UTC)

    // initial load: accounts signed up over the whole initial calendar,
    // each with a chain of subscriptions (some overlapping add-ons)
    val initAccounts = Vector.fill(size.accounts)(
      newAccount(CalendarStart, InitialEnd.minusMonths(1)))
    initAccounts.foreach(a => accounts(a.id) = a)
    val initSubs = initAccounts.flatMap { a =>
      val n = 1 + r.nextInt(2 * size.subsPerAccount - 1)
      var t = a.signup.plusDays(r.nextInt(60))
      (0 until n).iterator.takeWhile(_ => !t.isAfter(InitialEnd)).map { _ =>
        val endAt = t.plusMonths(1L + r.nextInt(36)).minusDays(r.nextInt(28))
        val end = if (endAt.isBefore(InitialEnd) && r.nextDouble() < 0.75) Some(endAt) else None
        val s = newSub(a, t, end)
        t = end.getOrElse(t).plusDays(r.nextInt(90))
        s
      }.toVector
    }
    initSubs.foreach(s => subs(s.id) = s)
    val batch0 = Batch(0, ingested(0), InitialEnd, initAccounts, initSubs,
      tickets((size.accounts * 0.5).toInt, CalendarStart, InitialEnd))

    val later = (1 to size.batches).map { b =>
      val from = InitialEnd.plusDays(1).plusMonths((b - 1).toLong * size.monthsPerBatch)
      val to = from.plusMonths(size.monthsPerBatch).minusDays(1)
      val known = accounts.valuesIterator.toVector
      val openBefore = subs.valuesIterator.filter(s => s.end.isEmpty && s.start.isBefore(from)).toVector
      // SCD2 changes: a new tier and seat count for a sample of accounts
      val changed = sample(r, known, (known.size * size.changeRate).round.toInt).map { a =>
        val tier = Tiers((Tiers.indexOf(a.tier) + 1 + r.nextInt(2)) % Tiers.size)
        a.copy(tier = tier, seats = a.seats + 1 + r.nextInt(20))
      }
      val fresh = Vector.fill((known.size * size.newAccountRate).round.toInt)(newAccount(from, to))
      (changed ++ fresh).foreach(a => accounts(a.id) = a)
      val freshSubs = fresh.map(a => newSub(a, dayIn(r, a.signup, to), None))
      val moreSubs = Vector.fill((known.size * size.newSubRate).round.toInt) {
        newSub(pick(r, known), dayIn(r, from, to), None)
      }
      // churn: re-send a sample of open subscriptions with an end date
      // inside this batch's months
      val churned = sample(r, openBefore, (openBefore.size * size.churnRate).round.toInt)
        .map(s => s.copy(end = Some(dayIn(r, from, to)), churn = true, autoRenew = false))
      val batchSubs = freshSubs ++ moreSubs ++ churned
      batchSubs.foreach(s => subs(s.id) = s)
      Batch(b, ingested(b), to, changed ++ fresh, batchSubs,
        tickets((known.size * size.ticketRate).round.toInt, from, to))
    }
    Zone(batch0 +: later.toVector)
  }

  /** `n` distinct elements of `xs`, chosen by the seeded generator. */
  private def sample[A](r: SplittableRandom, xs: Vector[A], n: Int): Vector[A] = {
    val idx = scala.collection.mutable.LinkedHashSet.empty[Int]
    val k = math.min(n, xs.size)
    while (idx.size < k) idx += r.nextInt(xs.size)
    idx.toVector.map(xs)
  }

  val AccountSchema: StructType = StructType(Seq(
    StructField("account_id", StringType), StructField("account_name", StringType),
    StructField("industry", StringType), StructField("country", StringType),
    StructField("signup_date", DateType), StructField("referral_source", StringType),
    StructField("plan_tier", StringType), StructField("seats", IntegerType),
    StructField("is_trial", BooleanType), StructField("churn_flag", BooleanType),
    StructField("ingested_at", TimestampType), StructField("source_file", StringType)))

  val SubSchema: StructType = StructType(Seq(
    StructField("subscription_id", StringType), StructField("account_id", StringType),
    StructField("start_date", DateType), StructField("end_date", DateType),
    StructField("plan_tier", StringType), StructField("seats", IntegerType),
    StructField("mrr_amount", DoubleType), StructField("arr_amount", DoubleType),
    StructField("is_trial", BooleanType), StructField("upgrade_flag", BooleanType),
    StructField("downgrade_flag", BooleanType), StructField("churn_flag", BooleanType),
    StructField("billing_frequency", StringType), StructField("auto_renew_flag", BooleanType),
    StructField("ingested_at", TimestampType), StructField("source_file", StringType)))

  val TicketSchema: StructType = StructType(Seq(
    StructField("ticket_id", StringType), StructField("account_id", StringType),
    StructField("submitted_at", TimestampType), StructField("closed_at", TimestampType),
    StructField("resolution_time_hours", DoubleType), StructField("priority", StringType),
    StructField("first_response_time_minutes", DoubleType),
    StructField("satisfaction_score", DoubleType), StructField("escalation_flag", BooleanType),
    StructField("ingested_at", TimestampType), StructField("source_file", StringType)))

  val Sources: Seq[String] = Seq("raw_accounts", "raw_subscriptions", "raw_support_tickets")

  def batchDir(root: String, b: Int): String = s"$root/batch_$b"

  /** Write every batch as one parquet file per source under `root`. */
  def write(spark: SparkSession, landing: Zone, root: String): Unit =
    landing.batches.foreach { b =>
      val ts = java.sql.Timestamp.from(b.ingestedAt)
      val tag = s"batch_${b.index}.csv"
      def utc(t: LocalDateTime) = java.sql.Timestamp.from(t.toInstant(ZoneOffset.UTC))
      val rows = Seq(
        AccountSchema -> b.accounts.map(a => Row(a.id, a.name, a.industry, a.country,
          a.signup, a.referral, a.tier, a.seats, a.isTrial, false, ts, s"accounts_$tag")),
        SubSchema -> b.subs.map(s => Row(s.id, s.account, s.start, s.end.orNull,
          s.tier, s.seats, s.mrrCents / 100.0, s.mrrCents * 12 / 100.0, s.isTrial,
          s.upgrade, s.downgrade, s.churn, if (s.annual) "annual" else "monthly",
          s.autoRenew, ts, s"subscriptions_$tag")),
        TicketSchema -> b.tickets.map(t => Row(t.id, t.account, utc(t.submitted),
          t.closed.map(utc).orNull,
          t.closed.map(c => Double.box(java.time.Duration.between(t.submitted, c).toMinutes / 60.0)).orNull,
          t.priority, t.firstResponseMinutes.toDouble, t.satisfaction.toDouble,
          t.escalated, ts, s"tickets_$tag")))
      Sources.zip(rows).foreach { case (name, (schema, data)) =>
        spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"${batchDir(root, b.index)}/$name")
      }
    }

  def read(spark: SparkSession, root: String, b: Int): Map[String, DataFrame] =
    Sources.map(s => s -> spark.read.parquet(s"${batchDir(root, b)}/$s")).toMap
}
