package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One observed event for the transition state machine (µs — the
  * oracle's ordering resolution, tie-broken by event id). */
case class TypeObs(user: Long, tsUs: Long, eid: Long, typ: String)

/** Per-user keyed state: the most recent event type seen — ONE string
  * per user, the whole state. */
case class LastType(typ: String)

/** An observed (prev → next) transition for one user. */
case class Transition(user: Long, prevTyp: String, nextTyp: String)

/** One observed inter-arrival gap for a (user, type) series. */
case class GapOut(typ: String, gapUs: Long)

/** Per-(user, type) keyed state: the last event time — ONE long. */
case class LastTs(tsUs: Long)

/** Per-user keyed state for the order-2 machine: the last TWO event
  * types seen — two strings per user, the whole state. */
case class LastTwo(prev2: String, prev1: String)

/** An observed contiguous (t1, t2, t3) triple for one user. */
case class Triple(user: Long, t1: String, t2: String, t3: String)

object MarkovStream {

  /** Streaming contiguous 3-sequences — the stateful twin of the batch
    * `events_frequent_sequences` double-lead window: each arriving
    * event closes the triple (prev2, prev1, now) on the spot; state is
    * the last TWO types per user (the canonical reduction of a
    * two-step lead window, one string more than [[transitions]]).
    * Ordering/NoTimeout reasoning identical to [[transitions]]. */
  def triples(events: DataFrame): Dataset[Triple] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long").as("user"),
        expr("ts div 1000").as("tsUs"),
        col("event_id").cast("long").as("eid"),
        col("event_type").as("typ"))
      .as[TypeObs]
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[TypeObs],
            state: GroupState[LastTwo]) => {
          var p2 = state.getOption.map(_.prev2).orNull
          var p1 = state.getOption.map(_.prev1).orNull
          val out = Vector.newBuilder[Triple]
          rows.toVector.sortBy(r => (r.tsUs, r.eid)).foreach { r =>
            if (p2 != null && p1 != null) out += Triple(user, p2, p1, r.typ)
            p2 = p1; p1 = r.typ
          }
          if (p1 != null) state.update(LastTwo(p2, p1))
          out.result().iterator
        })
  }

  /** Streaming inter-arrival gaps — the stateful twin of the batch
    * `events_interarrival` lag window: each arrival emits its gap to
    * the previous event of the SAME (user, type) series on the spot;
    * state is ONE long per series (the canonical lag-window
    * reduction, one column narrower than [[transitions]]). Ordering /
    * NoTimeout reasoning identical to [[transitions]]. */
  def interarrivals(events: DataFrame): Dataset[GapOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long").as("user"),
        expr("ts div 1000").as("tsUs"),
        col("event_id").cast("long").as("eid"),
        col("event_type").as("typ"))
      .as[TypeObs]
      .groupByKey(r => (r.user, r.typ))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: (Long, String), rows: Iterator[TypeObs],
            state: GroupState[LastTs]) => {
          var last = state.getOption.map(_.tsUs)
          val out = Vector.newBuilder[GapOut]
          rows.toVector.sortBy(r => (r.tsUs, r.eid)).foreach { r =>
            last.foreach(p => out += GapOut(key._2, r.tsUs - p))
            last = Some(r.tsUs)
          }
          last.foreach(t => state.update(LastTs(t)))
          out.result().iterator
        })
  }

  /** Streaming first-order Markov transitions — the stateful twin of the
    * batch `events_markov` lead-window pass. The batch form needs each
    * user's ordered history in a window frame; the streaming form
    * carries exactly ONE string of state per user (the last type seen)
    * and emits each (prev → next) pair as the next event arrives — the
    * canonical mapGroupsWithState reduction of a lag/lead window.
    *
    * 100 TB/continuous shape: state is O(users)·1 string regardless of
    * event volume; each micro-batch shuffles only its own rows to the
    * user-keyed state partitions; the downstream count fold is
    * types²-bounded. Within a batch rows sort by (µs, event_id) — the
    * oracle's order; across batches the file source delivers
    * time-ordered waves (the suite's fixture contract, shared with the
    * attribution/sessionize/funnel streams — see AttributionStream's
    * out-of-order note for the production monitor).
    *
    * NoTimeout is the semantics (the AttributionStream reasoning): a
    * user's sequence continues across any quiet period — evicting the
    * last-type state would silently drop the resumption transition. A
    * production deployment bounding state by user cardinality would use
    * an EventTimeTimeout at the session-continuity horizon, changing the
    * semantics to within-horizon transitions. */
  def transitions(events: DataFrame): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long").as("user"),
        expr("ts div 1000").as("tsUs"),
        col("event_id").cast("long").as("eid"),
        col("event_type").as("typ"))
      .as[TypeObs]
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[TypeObs],
            state: GroupState[LastType]) => {
          var last = state.getOption.map(_.typ)
          val out = Vector.newBuilder[Transition]
          rows.toVector.sortBy(r => (r.tsUs, r.eid)).foreach { r =>
            last.foreach(p => out += Transition(user, p, r.typ))
            last = Some(r.typ)
          }
          last.foreach(t => state.update(LastType(t)))
          out.result().iterator
        })
  }
}
