package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one session per suite,
  * a single shared one is cheaper still and safe — tests only read).
  *
  * `spark` is revival-capable rather than a plain lazy val: the
  * EpochRegistry lifecycle spec genuinely STOPS the shared context
  * (that is the behavior under test), and suites running after it must
  * get a fresh session instead of the stopped husk. Suites run
  * sequentially in the forked test JVM, so a suite-local
  * `lazy val spark = SparkTestSession.spark` stays valid for that
  * suite's whole run. */
object SparkTestSession {
  @volatile private var cached: SparkSession = _

  def spark: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      cached = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      // as GraftSession.build does: suites that index a module's
      // `queries` map directly skip SparkEntry's per-entry registration
      graft.functions.GraftFunctions.register(cached)
    }
    cached
  }
}
