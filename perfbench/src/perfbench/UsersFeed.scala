package perfbench

import java.time.Instant

import scala.util.Random

/** A seeded, single-threaded source of spool files: `next()` returns the
  * lines of the next file in publication order. The rows are the
  * reference's JDBC-source `users` table (`id, name, updated_at,
  * private_info`). `nameChars` is the mean length of `name`, chosen by the
  * caller so the encoded envelope hits its target size. The feed keeps its
  * own account, computed without graft, of what a correct sink must end up
  * holding: ids are dense from 0, so the sink holds exactly 0 until
  * `records`, each once. */
final class UsersFeed(seed: Long, val recordsPerFile: Int, nameChars: Int) {
  private val rnd = new Random(seed)
  var records = 0L
  var nameCharsTotal = 0L
  var updatedAtMsTotal = 0L

  def next(): Array[String] = Array.fill(recordsPerFile) {
    val id = records
    records += 1
    val prefix = s"Name_${id}_"
    val pad = math.max(1, nameChars - prefix.length + rnd.nextInt(17) - 8)
    val name = prefix + rnd.alphanumeric.take(pad).mkString
    val ms = UsersFeed.BaseMs + rnd.nextInt(86400000)
    val priv = "Private_info_" + rnd.alphanumeric.take(8 + rnd.nextInt(24)).mkString
    nameCharsTotal += name.length
    updatedAtMsTotal += ms
    s"""{"id":$id,"name":"$name","updated_at":"${Instant.ofEpochMilli(ms)}","private_info":"$priv"}"""
  }
}

object UsersFeed {
  /** 2025-02-16T00:00:00Z, the date of the reference's sample row. */
  val BaseMs = 1739664000000L
}
