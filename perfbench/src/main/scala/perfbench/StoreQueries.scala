package perfbench

import java.util.SplittableRandom

/** A store query and the answer the generator's tallies predict, as
  * canonical rows (`v1,v2,...`) compared order-independently. */
final case class StoreQuery(cls: String, name: String, sql: String, expected: Seq[String])

/** The three query classes over the exported store:
  *   - lookup: partition-pruned (bucket + hour, or bucket + day);
  *   - seek:   predicates on row-group clustering columns only;
  *   - scan:   full-store analytics.
  * Parameters come from regenerated lines, so every lookup and seek hits
  * rows that exist. */
object StoreQueries {
  val View = "s3_access_logs"
  val Classes: Seq[String] = Seq("lookup", "seek", "scan")

  private def sumPairs(xs: Iterable[Array[Long]]): (Long, Long) =
    xs.foldLeft((0L, 0L)) { case ((c, b), a) => (c + a(0), b + a(1)) }

  private def merged[K](window: Seq[HourTally])(f: HourTally => scala.collection.Map[K, Long]): Map[K, Long] =
    window.flatMap(t => f(t).toSeq).groupMapReduce(_._1)(_._2)(_ + _)

  /** `perClass` queries of each class with seeded parameters, interleaved
    * lookup, seek, scan in a fixed order so every run puts the same class
    * first after the export. Lookups and seeks use their first template
    * twice as often as the second (a median then falls inside one template's
    * spread, not between two); scans rotate through three templates. */
  def forCycle(rng: SplittableRandom, gen: LogGen, window: Seq[HourTally], perClass: Int): Seq[StoreQuery] = {
    def pick(): LogRec = StoreQueries.pick(rng, gen, window)
    val scans = Seq[Seq[HourTally] => StoreQuery](topKeys, forbiddenByRequester, assumedRoleByHour)
    (0 until perClass).flatMap { k =>
      val first = k % 3 != 2
      Seq(if (first) requesterInHour(pick(), window) else bucketDayBreakdown(pick(), window),
        if (first) requesterAllHours(pick(), window) else ipRange(pick(), window),
        scans(k % scans.size)(window))
    }
  }

  /** A random generated line of a random hour of the store. */
  def pick(rng: SplittableRandom, gen: LogGen, window: Seq[HourTally]): LogRec = {
    val t = window(rng.nextInt(window.size))
    gen.rec(t.hour, rng.nextInt(t.rows.toInt))
  }

  def requesterInHour(x: LogRec, window: Seq[HourTally]): StoreQuery = {
    val (d, hh) = LogGen.dayHour(x.hour)
    val t = window.find(_.hour == x.hour).get
    val (c, b) = sumPairs(t.byBucketRequester.get((x.bucket, x.requester)))
    StoreQuery("lookup", "requester_in_hour",
      s"SELECT count(*), coalesce(sum(bytessent), 0) FROM $View WHERE bucket_name = '${x.bucket}' " +
        s"AND year = 2021 AND month = 7 AND day = $d AND hour = $hh AND requester = '${x.requester}'",
      Seq(s"$c,$b"))
  }

  def bucketDayBreakdown(x: LogRec, window: Seq[HourTally]): StoreQuery = {
    val d = LogGen.dayHour(x.hour)._1
    val sameDay = window.filter(t => LogGen.dayHour(t.hour)._1 == d)
    val rows = sameDay.flatMap(_.byBucketOp.toSeq).filter(_._1._1 == x.bucket)
      .groupMapReduce(_._1._2)(kv => (kv._2(0), kv._2(1))) { case ((c1, b1), (c2, b2)) => (c1 + c2, b1 + b2) }
      .map { case (op, (c, b)) => s"$op,$c,$b" }.toSeq
    StoreQuery("lookup", "bucket_day_breakdown",
      s"SELECT operation, count(*), sum(bytessent) FROM $View WHERE bucket_name = '${x.bucket}' " +
        s"AND year = 2021 AND month = 7 AND day = $d GROUP BY operation", rows)
  }

  def requesterAllHours(x: LogRec, window: Seq[HourTally]): StoreQuery = {
    val (c, b) = sumPairs(window.flatMap(_.byRequester.get(x.requester)))
    StoreQuery("seek", "requester_all_hours",
      s"SELECT count(*), coalesce(sum(bytessent), 0) FROM $View WHERE requester = '${x.requester}'",
      Seq(s"$c,$b"))
  }

  def ipRange(x: LogRec, window: Seq[HourTally]): StoreQuery = {
    val lo = math.max(0L, x.ip - (1L << 21)); val hi = x.ip + (1L << 21)
    StoreQuery("seek", "ip_range",
      s"SELECT count(*) FROM $View WHERE remoteip_int BETWEEN $lo AND $hi",
      Seq(window.map(_.ipsBetween(lo, hi)).sum.toString))
  }

  def topKeys(window: Seq[HourTally]): StoreQuery = {
    val top = merged(window)(_.byKey).toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
    StoreQuery("scan", "top_keys",
      s"SELECT key, count(*) AS c FROM $View GROUP BY key ORDER BY c DESC, key LIMIT 10",
      top.map { case (k, c) => s"$k,$c" })
  }

  def forbiddenByRequester(window: Seq[HourTally]): StoreQuery =
    StoreQuery("scan", "forbidden_by_requester",
      s"SELECT requester, count(*) FROM $View WHERE httpstatus = '403' GROUP BY requester",
      merged(window)(_.forbiddenByRequester).map { case (r, c) => s"$r,$c" }.toSeq)

  def assumedRoleByHour(window: Seq[HourTally]): StoreQuery =
    StoreQuery("scan", "assumed_role_by_hour",
      s"SELECT year, month, day, hour, count(*) FROM $View WHERE is_assumed_role " +
        "GROUP BY year, month, day, hour",
      window.filter(_.assumedRole > 0).map { t =>
        val (d, hh) = LogGen.dayHour(t.hour); s"2021,7,$d,$hh,${t.assumedRole}"
      })
}
