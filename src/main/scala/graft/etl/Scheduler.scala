package graft.etl

import java.time.LocalDateTime
import java.time.temporal.ChronoUnit

/** The reference's operational loop (`docker/cron/schedules.py:16-40`,
  * `docker/cron/setup-cron.sh`, `docker/entrypoint.sh`): an environment name
  * from `CRON_ENVIRONMENT` picks a 5-field cron cadence, and cron re-runs
  * the whole pipeline on it forever. This module reproduces that loop
  * in-process — `schedule(env)` is `get_schedule`, [[Cron]] evaluates the
  * expression, and [[loop]] is the crontab: compute next fire, sleep, tick.
  *
  * The clock and sleeper are injected so tests drive virtual time; the
  * production entry ([[CronMain]]) passes the system clock. Each tick runs
  * the full batch pipeline — the scheduling layer stays outside the Spark
  * plan, exactly as cron stays outside the reference's `main.py`.
  */
object Scheduler {

  /** Environment cadences (reference `schedules.py:16-24`). */
  val TestingSchedule = "* * * * *"
  val DevelopmentSchedule = "*/5 * * * *"
  val ProductionSchedule = "0 */6 * * *"

  /** `get_schedule` parity (reference `schedules.py:26-40`): unknown
    * environments fall back to testing.
    */
  def schedule(environment: String): String = environment match {
    case "production"  => ProductionSchedule
    case "development" => DevelopmentSchedule
    case _             => TestingSchedule
  }

  /** One cron field: the set of matching values within [lo, hi]. Supports
    * `*`, `*&#47;n`, `a`, `a-b`, `a-b/n` and comma lists — the standard
    * 5-field vocabulary (the reference uses `*`, `*&#47;5`, `0`, `*&#47;6`).
    */
  private[etl] def parseField(spec: String, lo: Int, hi: Int): Set[Int] = {
    def one(part: String): Seq[Int] = {
      val (rangePart, step) = part.split("/") match {
        case Array(r)    => (r, 1)
        case Array(r, s) => (r, s.toInt)
        case _           => throw new IllegalArgumentException(s"bad cron field: $part")
      }
      require(step > 0, s"bad cron step: $part")
      val (a, b) = rangePart match {
        case "*" => (lo, hi)
        case r if r.contains("-") =>
          val Array(x, y) = r.split("-", 2)
          (x.toInt, y.toInt)
        case n => val v = n.toInt; (v, if (part.contains("/")) hi else v)
      }
      require(a >= lo && b <= hi && a <= b, s"cron field out of range [$lo,$hi]: $part")
      (a to b by step)
    }
    spec.split(",").toIndexedSeq.flatMap(one).toSet
  }

  /** A parsed 5-field cron expression (minute hour day-of-month month
    * day-of-week; 0 and 7 both Sunday, as the reference documents).
    * Day-of-month vs day-of-week follow standard cron OR-semantics when
    * both are restricted.
    */
  final case class Cron(
      minute: Set[Int],
      hour: Set[Int],
      dayOfMonth: Set[Int],
      month: Set[Int],
      dayOfWeek: Set[Int],
      domRestricted: Boolean,
      dowRestricted: Boolean
  ) {
    def matches(t: LocalDateTime): Boolean = {
      val dow = t.getDayOfWeek.getValue % 7 // java MONDAY=1..SUNDAY=7 -> cron SUN=0
      val dayOk =
        if (domRestricted && dowRestricted) dayOfMonth(t.getDayOfMonth) || dayOfWeek(dow)
        else dayOfMonth(t.getDayOfMonth) && dayOfWeek(dow)
      minute(t.getMinute) && hour(t.getHour) && month(t.getMonthValue) && dayOk
    }

    /** First fire time strictly after `t`, minute-granular. Bounded scan:
      * any satisfiable standard expression fires within 4 years.
      */
    def nextAfter(t: LocalDateTime): LocalDateTime = {
      var c = t.truncatedTo(ChronoUnit.MINUTES).plusMinutes(1)
      val limit = t.plusYears(4)
      while (!matches(c)) {
        c = c.plusMinutes(1)
        if (c.isAfter(limit)) throw new IllegalStateException("cron expression never fires")
      }
      c
    }
  }

  def parse(expr: String): Cron = {
    val fields = expr.trim.split("\\s+")
    require(fields.length == 5, s"cron expression needs 5 fields: '$expr'")
    val dow = parseField(fields(4), 0, 7)
    Cron(
      minute = parseField(fields(0), 0, 59),
      hour = parseField(fields(1), 0, 23),
      dayOfMonth = parseField(fields(2), 1, 31),
      month = parseField(fields(3), 1, 12),
      dayOfWeek = if (dow(7)) dow + 0 else dow, // 7 == Sunday == 0
      // Vixie-cron rule: a field counts as "restricted" (triggering the
      // dom/dow OR-combination) only when it does NOT start with '*' —
      // '*/2' is a step over the full range, not a restriction.
      domRestricted = !fields(2).startsWith("*"),
      dowRestricted = !fields(4).startsWith("*")
    )
  }

  /** The crontab loop: sleep to the next fire, tick, repeat. Stops after
    * `maxTicks` (None = forever), or when `tick` returns false (lets the
    * caller stop on fatal pipeline states). Returns ticks executed.
    *
    * A tick that overruns its slot does NOT queue catch-up runs — the next
    * fire is computed from the post-tick clock, which is cron's behavior
    * (a still-running job just means that minute's slot is skipped).
    */
  def loop(
      cron: Cron,
      now: () => LocalDateTime,
      sleep: java.time.Duration => Unit,
      maxTicks: Option[Int]
  )(tick: LocalDateTime => Boolean): Int = {
    var ticks = 0
    var go = true
    while (go && maxTicks.forall(ticks < _)) {
      val fireAt = cron.nextAfter(now())
      val wait = java.time.Duration.between(now(), fireAt)
      if (!wait.isNegative) sleep(wait)
      go = tick(fireAt)
      ticks += 1
    }
    ticks
  }
}

/** Long-running scheduled entry point (reference `entrypoint.sh` +
  * `setup-cron.sh`): pick the cadence from `CRON_ENVIRONMENT`, then re-run
  * the batch pipeline on every fire. `--ticks n` bounds the run (smoke
  * tests / drain-and-stop); default runs until killed, like cron.
  */
object CronMain {
  def main(argv: Array[String]): Unit = {
    val (cleaned, maxTicks) = {
      val i = argv.indexOf("--ticks")
      if (i < 0) (argv, None)
      else {
        require(i + 1 < argv.length && argv(i + 1).forall(_.isDigit), "--ticks requires a numeric value")
        (argv.patch(i, Nil, 2), Some(argv(i + 1).toInt))
      }
    }
    val args = Main.parse(cleaned)
    val env = sys.env.getOrElse("CRON_ENVIRONMENT", "testing")
    val cron = Scheduler.parse(Scheduler.schedule(env))
    println(s"[scheduler] environment=$env schedule='${Scheduler.schedule(env)}'")
    val spark = graft.core.Sessions.local("graft-etl-cron")
    try {
      // same env-resolved sink as a one-shot Main run (DB_HOST -> JDBC,
      // else parquet), resolved once — every tick reuses it
      val sink = Main.prepareSink(spark, args)
      val n = Scheduler.loop(
        cron,
        () => LocalDateTime.now(),
        d => Thread.sleep(d.toMillis),
        maxTicks
      ) { fireAt =>
        println(s"[scheduler] tick at $fireAt")
        val result = Pipeline.run(spark, args.input, args.output, sink, args.userAgent, args.deleteInputs)
        println(s"[scheduler] processed=${result.processedDates.map(_.date).mkString(",")} failed=${result.failedDates.size}")
        true
      }
      println(s"[scheduler] stopped after $n ticks")
    } finally spark.stop()
  }
}
