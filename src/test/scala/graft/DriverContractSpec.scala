package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract pin: every [[SparkEntry.queries]] key and the
  * sha256 of every [[SparkEntry.oracleSql]] value must equal the
  * committed snapshot `graft/driver_contract.tsv` (one `name<TAB>sha256`
  * line per entry, sorted by name), taken before the index-family
  * refactors. A refactor may restructure how entries are built; it may
  * not add, drop, rename an entry or touch an oracle. */
class DriverContractSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("entry names and oracle SQL hashes equal the committed snapshot") {
    val src = scala.io.Source.fromResource("graft/driver_contract.tsv",
      getClass.getClassLoader)("UTF-8")
    val snapshot =
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(name, hash) = l.split('\t')
        name -> hash
      }.toMap
      finally src.close()
    val oracles = SparkEntry.oracleSql
    val now = (SparkEntry.queries.keySet ++ oracles.keySet).map(k =>
      k -> oracles.get(k).map(sha256).getOrElse("-")).toMap

    val missing = (snapshot.keySet -- now.keySet).toSeq.sorted
    val added = (now.keySet -- snapshot.keySet).toSeq.sorted
    val changed = snapshot.keySet.intersect(now.keySet).toSeq.sorted
      .filter(k => snapshot(k) != now(k))
    assert(missing.isEmpty, s"entries gone from the driver contract: $missing")
    assert(added.isEmpty, s"entries not in the snapshot: $added")
    assert(changed.isEmpty, s"oracle SQL changed (or dropped) for: $changed")
  }
}
