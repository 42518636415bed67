package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded Firefox Accounts landing writer.
  *
  * Writes the landing tree `RunImport` reads, one file per family and
  * day, in the reference column order:
  * {{{
  *   activity/activity-YYYY-MM-DD.csv        ts + 7 columns
  *   flow/flow-YYYY-MM-DD.csv                ts + 17 columns
  *   email/email-events-YYYY-MM-DD.csv       ts + 7 columns
  *   counts/fxa-basic-metrics-YYYY-MM-DD.txt day,accounts,verified
  * }}}
  *
  * Every file carries a planted share of lines the engine must drop:
  * blocklisted lines (sanitizer), wrong-arity lines (field-count
  * policy), a few unparseable timestamps (MAXERROR accounting, well
  * under the limit of 100) and rows stamped on the previous day (the
  * same-day filter). Flows that begin late in the day complete after
  * midnight, so their `flow.complete` lands in the next day's file.
  *
  * While writing, the generator keeps its own tally of what a correct
  * import must produce — per-day cohort histograms, device sets and
  * per-flow sessions — computed from the generated values, never from
  * the engine. The output checks compare the warehouse against it.
  *
  * Day `i` has `rowsOn(i)` activity lines, a fifth as many flows and
  * half as many email events; the user pool is sized for `rowsPerDay`.
  */
final class FxaLanding(val seed: Long, val start: LocalDate, val rowsPerDay: Int,
    rowsOn: Int => Int) {
  import FxaLanding._

  private val users: Int = math.max(50, rowsPerDay / 4)
  private val master = new SplittableRandom(seed)
  private val uids: Array[String] = Array.fill(users)(hex(master, 32))
  private val devices: Array[Array[String]] =
    Array.fill(users)(Array.fill(1 + master.nextInt(3))(hex(master, 32)))

  /** Kept rows per (family, day) by cohort bucket 0..99. */
  val cohorts: mutable.Map[(String, LocalDate), Array[Long]] = mutable.Map.empty
  /** Per day: uid → (cohort, devices used that day with a device id). */
  val devicesByDay: mutable.Map[LocalDate, mutable.Map[String, (Int, mutable.Set[String])]] =
    mutable.Map.empty
  /** Every generated flow, by id. */
  val flows: mutable.Map[String, Flow] = mutable.LinkedHashMap.empty
  /** Counts file content per day. */
  val counts: mutable.Map[LocalDate, (Long, Long)] = mutable.Map.empty
  /** Every flow row written, in file order (the stream's input). */
  val flowRows: mutable.ArrayBuffer[FlowRow] = mutable.ArrayBuffer.empty
  /** Flow rows to append to the next day's file (after-midnight events). */
  private val spill = mutable.Map.empty[LocalDate, mutable.ArrayBuffer[FlowRow]]

  /** Write the first `n` days under `root`, in order: late flow events
    * spill into the following day. */
  def writeDays(root: File, n: Int): Unit =
    (0 until n).foreach { i =>
      val day = start.plusDays(i.toLong)
      val rng = new SplittableRandom(seed * 1000003L + i)
      writeActivity(root, day, rowsOn(i), rng.split())
      writeFlow(root, day, rowsOn(i), rng.split())
      writeEmail(root, day, rowsOn(i), rng.split())
      writeCounts(root, day, i)
    }

  private def dayStart(day: LocalDate): Long = day.atStartOfDay(ZoneOffset.UTC).toEpochSecond

  private def tally(family: String, day: LocalDate, cohort: Int): Unit = {
    val h = cohorts.getOrElseUpdate((family, day), new Array[Long](100))
    if (cohort >= 0) h(cohort) += 1
  }

  /** Write `good` lines plus the planted bad ones, shuffled in. */
  private def writeFile(f: File, good: Seq[String], arity: Int, rng: SplittableRandom): Unit = {
    f.getParentFile.mkdirs()
    val bad = mutable.ArrayBuffer.empty[String]
    val nBad = math.max(1, good.size / 100)
    (0 until nBad).foreach { _ =>
      val g = good(rng.nextInt(good.size)).split(",", -1)
      bad += g.updated(1 + rng.nextInt(arity - 1), pick(rng, blockWords)).mkString(",")
      bad += (if (rng.nextBoolean()) g.dropRight(1) else g :+ "x").mkString(",")
    }
    (0 until 2).foreach { _ =>
      bad += good(rng.nextInt(good.size)).split(",", -1).updated(0, "t0").mkString(",")
    }
    val all = (good ++ bad).toArray
    var i = all.length - 1
    while (i > 0) { // Fisher-Yates with the file's own stream
      val j = rng.nextInt(i + 1)
      val t = all(i); all(i) = all(j); all(j) = t
      i -= 1
    }
    val w = new BufferedWriter(new FileWriter(f))
    all.foreach { l => w.write(l); w.write('\n') }
    w.close()
  }

  private def writeActivity(root: File, day: LocalDate, n: Int, rng: SplittableRandom): Unit = {
    val t0 = dayStart(day)
    val lines = (0 until n).map { _ =>
      val u = skewedUser(rng)
      val devs = devices(u)
      val dev = if (rng.nextInt(10) == 0) "" else devs(rng.nextInt(devs.length))
      val ts =
        if (rng.nextInt(50) == 0) t0 - 1 - rng.nextInt(3600) // previous day: dropped
        else t0 + rng.nextInt(86400)
      val (br, ver, os) = ua(rng)
      val line = Seq(ts.toString, br, ver, os, uids(u), pick(rng, activityTypes),
        pick(rng, services), dev).mkString(",")
      if (ts >= t0) {
        val c = cohortOf(uids(u))
        tally("activity", day, c)
        if (dev.nonEmpty) devicesByDay.getOrElseUpdate(day, mutable.Map.empty)
          .getOrElseUpdate(uids(u), (c, mutable.Set.empty))._2 += dev
      }
      line
    }
    writeFile(new File(root, s"activity/activity-$day.csv"), lines, 8, rng)
  }

  private def writeFlow(root: File, day: LocalDate, n: Int, rng: SplittableRandom): Unit = {
    val t0 = dayStart(day)
    val rows = mutable.ArrayBuffer.empty[FlowRow] ++ spill.remove(day).getOrElse(Nil)
    val nFlows = math.max(1, n / 5)
    (0 until nFlows).foreach { _ =>
      val id = hex(rng, 64)
      val begin = t0 + rng.nextInt(86400)
      val u = if (rng.nextInt(3) == 0) uids(skewedUser(rng)) else ""
      val ctx = FlowCtx(pick(rng, contexts), pick(rng, entrypoints), pick(rng, services),
        pick(rng, campaigns), pick(rng, locales))
      val (br, ver, os) = ua(rng)
      def row(ts: Long, tpe: String, ft: Long): FlowRow =
        FlowRow(ts, tpe, id, ft, br, ver, os, ctx, u)
      val evs = mutable.ArrayBuffer(row(begin, "flow.begin", 0L))
      if (rng.nextInt(10) == 0)
        evs += row(begin + 1, s"flow.experiment.${pick(rng, experiments)}.${pick(rng, arms)}", 500L)
      if (rng.nextInt(30) == 0 && flows.nonEmpty)
        evs += row(begin + 1, s"flow.continued.${flows.last._1}", 600L)
      var t = begin
      (0 until 1 + rng.nextInt(4)).foreach { k =>
        t += 1 + rng.nextInt(300)
        evs += row(t, s"flow.${pick(rng, views)}.${stages(k % stages.size)}", (t - begin) * 1000 + 700)
      }
      val completed = rng.nextInt(5) < 2
      val created = completed && rng.nextInt(3) == 0
      if (created) { t += 1 + rng.nextInt(60); evs += row(t, "account.created", (t - begin) * 1000 + 800) }
      if (completed) {
        // late flows finish after midnight: the complete event lands in
        // the next day's file (the d ∪ d+1 late-data window)
        t += (if (begin - t0 > 79200) 3 * 3600 else 1 + rng.nextInt(120))
        evs += row(t, "flow.complete", (t - begin) * 1000 + 900)
      }
      flows(id) = Flow(id, begin * 1000, evs.filter(_.tpe != "flow.begin").map(_.flowTime).max,
        completed, created, cohortOf(id), day, evs.map(_.ts).max * 1000)
      evs.foreach { r =>
        if (r.ts >= t0 + 86400) spill.getOrElseUpdate(day.plusDays(1), mutable.ArrayBuffer.empty) += r
        else rows += r
      }
    }
    flowRows ++= rows
    val lines = rows.map { r =>
      val isControl = r.tpe == "flow.begin" || r.tpe.startsWith("flow.continued.") ||
        r.tpe.startsWith("flow.experiment.")
      tally("flow", day, if (isControl) -1 else cohortOf(r.flowId))
      Seq(r.ts.toString, r.tpe, r.flowId, r.flowTime.toString, r.br, r.ver, r.os,
        r.ctx.context, r.ctx.entrypoint, "", r.ctx.service, r.ctx.campaign, "",
        if (r.ctx.campaign.isEmpty) "" else "email", if (r.ctx.campaign.isEmpty) "" else "fxa",
        "", r.ctx.locale, r.uid).mkString(",")
    }
    writeFile(new File(root, s"flow/flow-$day.csv"), lines.toSeq, 18, rng)
  }

  private def writeEmail(root: File, day: LocalDate, n: Int, rng: SplittableRandom): Unit = {
    val t0 = dayStart(day)
    val dayFlows = flows.valuesIterator.filter(_.day == day).map(_.id).toArray
    val lines = (0 until math.max(1, n / 2)).map { _ =>
      val fid = if (rng.nextInt(20) == 0 || dayFlows.isEmpty) "" else dayFlows(rng.nextInt(dayFlows.length))
      val tpe = pick(rng, emailTypes)
      val bounced = if (tpe == "bounced") pick(rng, Seq("Permanent", "Transient")) else ""
      val complaint = if (tpe == "complaint") "abuse" else ""
      val ts = t0 + rng.nextInt(86400)
      tally("email", day, if (fid.isEmpty) -1 else cohortOf(fid))
      Seq(ts.toString, fid, pick(rng, domains), pick(rng, templates), tpe, bounced,
        complaint, pick(rng, locales)).mkString(",")
    }
    writeFile(new File(root, s"email/email-events-$day.csv"), lines, 8, rng)
  }

  private def writeCounts(root: File, day: LocalDate, i: Int): Unit = {
    val accounts = 1000000L + 1000L * i + (seed & 0xff)
    val verified = accounts * 9 / 10
    counts(day) = (accounts, verified)
    val f = new File(root, s"counts/fxa-basic-metrics-$day.txt")
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f))
    w.write(s"$day,$accounts,$verified\n")
    w.close()
  }

  /** Activity users are Zipf-like: a quarter of users make half the rows. */
  private def skewedUser(rng: SplittableRandom): Int =
    if (rng.nextBoolean()) rng.nextInt(math.max(1, users / 4)) else rng.nextInt(users)

  private def ua(rng: SplittableRandom): (String, String, String) = {
    val b = rng.nextInt(browsers.size)
    (browsers(b), s"${60 + rng.nextInt(70)}.0", pick(rng, oses))
  }

  /** Rows a correct import keeps in `tier` for one family and day. */
  def expectedRows(family: String, day: LocalDate, percent: Int): Long =
    cohorts.get((family, day)).fold(0L)(_.take(percent).sum)

  /** Distinct (uid, device_now, device_prev) pairs per day within a
    * trailing seven-day window, restricted to cohort < percent. */
  def expectedMultiDevice(day: LocalDate, percent: Int, firstDay: LocalDate): Long = {
    val now = devicesByDay.getOrElse(day, mutable.Map.empty)
    val window = (0 to 7).map(k => day.minusDays(k.toLong)).filter(!_.isBefore(firstDay))
    now.iterator.map { case (uid, (c, devNow)) =>
      if (c >= percent) 0L
      else {
        val seen = window.flatMap(d =>
          devicesByDay.get(d).flatMap(_.get(uid)).map(_._2).getOrElse(Nil)).toSet
        devNow.iterator.map(dn => (seen - dn).size.toLong).sum
      }
    }.sum
  }
}

object FxaLanding {

  final case class FlowCtx(context: String, entrypoint: String, service: String,
      campaign: String, locale: String)

  final case class FlowRow(ts: Long, tpe: String, flowId: String, flowTime: Long,
      br: String, ver: String, os: String, ctx: FlowCtx, uid: String)

  /** A generated flow as a correct sessionizer must report it. */
  final case class Flow(id: String, beginMs: Long, duration: Long, completed: Boolean,
      newAccount: Boolean, cohort: Int, day: LocalDate, lastEventMs: Long)

  /** The cohort rule of the reference: the first seven hex digits of the
    * id, as a number, modulo 100. */
  def cohortOf(id: String): Int =
    if (id.length < 7) -1 else (java.lang.Long.parseLong(id.substring(0, 7), 16) % 100).toInt

  private val hexDigits = "0123456789abcdef"
  def hex(rng: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb += hexDigits(rng.nextInt(16)))
    sb.result()
  }

  def pick[A](rng: SplittableRandom, xs: Seq[A]): A = xs(rng.nextInt(xs.size))

  /** Field values the sanitizer must reject (clean-flow-data.sh). */
  private val blockWords = Seq("a;b", "x'y", "select 1", "<s>", "nslookup", "file:x", "..\\p", "`id`")

  val browsers = Seq("Firefox", "Chrome", "Safari", "Edge", "Mobile Safari", "Firefox iOS")
  val oses = Seq("Windows", "Mac OS X", "Linux", "Android", "iOS")
  val services = Seq("sync", "", "amo", "send", "monitor", "pocket")
  val activityTypes = Seq("account.login", "account.signed", "account.created",
    "account.verified", "device.created", "sync.sentTabToDevice", "account.keyfetch")
  val contexts = Seq("fx_desktop_v3", "fx_ios_v1", "oauth", "web", "")
  val entrypoints = Seq("menupanel", "preferences", "synced-tabs", "app-menu", "firstrun", "")
  val campaigns = Seq("", "", "fxa-embedded-form", "connect-device", "newsletter")
  val locales = Seq("en-US", "de", "fr", "es-ES", "pt-BR", "ru", "zh-CN", "ja")
  val experiments = Seq("connectAnotherDevice", "emailFirst", "signupCode", "qrPairing")
  val arms = Seq("control", "treatment")
  val views = Seq("signin", "signup", "enter-email", "connect-another-device")
  val stages = Seq("view", "engage", "submit", "success")
  val emailTypes = Seq("sent", "sent", "delivered", "delivered", "delivered", "bounced", "complaint")
  val domains = Seq("gmail.com", "yahoo.com", "hotmail.com", "web.de", "outlook.com", "other")
  val templates = Seq("verifyEmail", "verifyLoginEmail", "recoveryEmail",
    "newDeviceLoginEmail", "passwordChangedEmail", "postVerifyEmail")
}
