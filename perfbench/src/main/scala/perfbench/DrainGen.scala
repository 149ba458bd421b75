package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded Debezium op-log for `iman.users`, cut into Kafka-like files.
  *
  * Input properties and why:
  *  - `Keys` = 4 x `NewPerFile`: a batch touches a fraction of the key
  *    space, so the sink both inserts new keys and replaces old ones.
  *  - Zipf(`ZipfS`) key choice: hot keys repeat inside one batch, which
  *    is the work `Upsert.applyCdc` removes before the per-row sink.
  *  - op mix: `c` for an absent key, else `d` with `DeleteShare`, else
  *    `u`; deletes never reach the sink (the reference drops them).
  *  - `MalformedShare` broken envelopes (half unparseable JSON, half
  *    valid JSON without a payload) exercise the quarantine leg;
  *    `TombstoneShare` null values exercise the tombstone drop.
  *  - each file starts with a replay of the last `ReplayShare` of the
  *    previous file in offset order, which is what Kafka redelivers after
  *    a restart; a replayed suffix never reorders a key across batches.
  *  - rows are shuffled inside each file, so version order within a batch
  *    comes only from `lsn`.
  */
object DrainGen {
  val Keys = 10000
  val ZipfS = 1.0
  val NewPerFile = 2500
  val ReplayShare = 0.02
  val MalformedShare = 0.01
  val TombstoneShare = 0.01
  val DeleteShare = 0.10

  /** kind: 0 data, 1 tombstone, 2 unparseable JSON, 3 missing payload. */
  final case class Env(lsn: Long, kind: Int, op: String, userId: Int, username: String,
                       account: String, updatedUs: Long, createdUs: Long)

  final case class Log(envs: Array[Env], files: Array[Array[Int]])

  private val accounts = Array("Bronze", "Silver", "Gold", "Platinum")

  def generate(seed: Long, nFiles: Int, newPerFile: Int = NewPerFile): Log = {
    val rnd = new SplittableRandom(seed)
    val zipf = new Zipf(Keys, ZipfS)
    // key rank -> user id, so the hottest keys are not the smallest ids
    val ids = {
      val a = (1 to Keys).toArray
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    def zipfKey(): Int = ids(zipf.rank(rnd))
    val live = mutable.HashMap[Int, Env]()
    val n = nFiles * newPerFile
    val envs = new Array[Env](n)
    var ts = 1754155842030174L
    for (i <- 0 until n) {
      val lsn = 100000000L + 8L * i
      ts += 1 + rnd.nextInt(2000)
      val u = rnd.nextDouble()
      envs(i) =
        if (u < MalformedShare) Env(lsn, if (rnd.nextBoolean()) 2 else 3, "", zipfKey(), "", "", ts, ts)
        else if (u < MalformedShare + TombstoneShare) Env(lsn, 1, "", zipfKey(), "", "", ts, ts)
        else {
          val k = zipfKey()
          live.get(k) match {
            case None =>
              val e = Env(lsn, 0, "c", k, s"user$k", accounts(rnd.nextInt(4)), ts, ts)
              live(k) = e; e
            case Some(prev) if rnd.nextDouble() < DeleteShare =>
              live.remove(k); prev.copy(lsn = lsn, op = "d", updatedUs = ts)
            case Some(prev) =>
              val e = prev.copy(lsn = lsn, op = "u", username = s"user${k}_${rnd.nextInt(1000000)}",
                account = accounts(rnd.nextInt(4)), updatedUs = ts)
              live(k) = e; e
          }
        }
    }
    val replay = math.round(newPerFile * ReplayShare).toInt
    val files = Array.tabulate(nFiles) { f =>
      val fresh = (f * newPerFile until (f + 1) * newPerFile).toArray
      val replayed = if (f == 0) Array.empty[Int] else (f * newPerFile - replay until f * newPerFile).toArray
      val a = replayed ++ fresh
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    Log(envs, files)
  }

  private val schemaJson =
    """{"type":"struct","fields":[""" +
      """{"type":"int32","optional":false,"default":0,"field":"user_id"},""" +
      """{"type":"string","optional":true,"field":"username"},""" +
      """{"type":"string","optional":true,"field":"account_type"},""" +
      """{"type":"int64","optional":true,"name":"io.debezium.time.MicroTimestamp","version":1,"field":"updated_at"},""" +
      """{"type":"int64","optional":true,"name":"io.debezium.time.MicroTimestamp","version":1,"field":"created_at"},""" +
      """{"type":"string","optional":true,"field":"op"},""" +
      """{"type":"int64","optional":true,"field":"lsn"}""" +
      """],"optional":false,"name":"postgres_cdc.iman.users.Value"}"""

  private val shortSchema = """{"type":"struct","name":"postgres_cdc.iman.users.Value"}"""

  def keyJson(e: Env): String = s"""{"user_id":${e.userId}}"""

  /** Wire value; `null` for a tombstone. */
  def valueJson(e: Env): String = e.kind match {
    case 0 =>
      s"""{"schema":$schemaJson,"payload":{"user_id":${e.userId},"username":"${e.username}",""" +
        s""""account_type":"${e.account}","updated_at":${e.updatedUs},"created_at":${e.createdUs},""" +
        s""""op":"${e.op}","lsn":${e.lsn}}}"""
    case 1 => null
    case 2 => s"""{"schema":$shortSchema,"payload":{"lsn":${e.lsn},"user_id":${e.userId},"username":"us"""
    case _ => s"""{"schema":$shortSchema,"lsn":${e.lsn}}"""
  }

  def reason(e: Env): String = if (e.kind == 2) "unparseable_json" else "missing_payload"

  /** SHA-256 over every (key, value) in file order: equal seeds must give
    * equal checksums.
    */
  def checksum(log: Log): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    log.files.foreach(_.foreach { j =>
      val e = log.envs(j)
      md.update(keyJson(e).getBytes("UTF-8"))
      md.update(String.valueOf(valueJson(e)).getBytes("UTF-8"))
    })
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}

/** Zipf(s) over ranks 0 until n, sampled by inverting its CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def rank(rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}
