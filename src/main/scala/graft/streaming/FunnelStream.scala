package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Live conversion funnel — events_funnel's streaming twin (SURVEY.md
  * §2F): per-user (first_view, first_click-after-it,
  * first_purchase-after-that) maintained incrementally, emitting a
  * snapshot row whenever a user's funnel coordinates change. A
  * downstream upsert sink (last snapshot per user) IS the live funnel
  * dashboard; StreamingSpec's "funnelStream snapshots reconstruct
  * events_funnel exactly on scrambled arrivals" folds exactly that and
  * pins row-equality against the registered batch query.
  *
  * The hard part a windowed aggregate cannot express: the funnel's
  * anchors CASCADE — a late-arriving EARLIER view moves first_view,
  * which can re-qualify an older click as first_click, which can
  * re-qualify an older purchase. The operator re-solves the cascade
  * exactly on every trigger from bounded state, correct on ANY arrival
  * order.
  *
  * Why the state is bounded: first_view only ever decreases, so
  * first_click = min{click ≥ first_view} is NON-INCREASING over time —
  * a click above the current first_click can never become the answer
  * and is dropped; the same argument bounds purchases above the
  * current first_purchase. What remains per user is the out-of-order
  * PREFIX (clicks/purchases at or below the current anchor — events
  * that precede the user's first qualifying conversion), which is the
  * funnel-shaped data's natural small set; a production deployment
  * caps it with watermark eviction. State and per-trigger work are
  * keyed by user_id, so they distribute.
  */
object FunnelStream {

  case class FunnelEvt(userId: Long, tsUs: Long, eventType: String)

  /** One funnel snapshot; updSeq increases per user so a sink (or the
    * spec) keeps the max-seq row as the live state. */
  case class FunnelUpd(user_id: Long, upd_seq: Int,
                       first_view_us: Option[Long], first_click_us: Option[Long],
                       first_purchase_us: Option[Long], stage: Int)

  /** Public: the state encoder's generated code must reach the
    * accessors. v = Long.MaxValue encodes "no view yet"; clicks and
    * purchases are kept sorted ascending and pruned to the candidates
    * at or below the current anchors (see scaladoc above). */
  case class FunnelState(v: Long, clicks: List[Long], purchases: List[Long],
                         seq: Int)

  private def insertSorted(xs: List[Long], x: Long): List[Long] = {
    val (lt, ge) = xs.span(_ < x)
    if (ge.headOption.contains(x)) xs else lt ::: x :: ge
  }

  /** first_view / first_click / first_purchase from the kept state —
    * the batch query's min-cascade, re-solved exactly. */
  private def solve(v: Long, clicks: List[Long], purchases: List[Long])
      : (Option[Long], Option[Long], Option[Long]) = {
    val ov = if (v == Long.MaxValue) None else Some(v)
    val fc = ov.flatMap(vv => clicks.find(_ >= vv)) // sorted asc: find = min ≥
    val fp = fc.flatMap(cc => purchases.find(_ >= cc))
    (ov, fc, fp)
  }

  def funnelStream(events: Dataset[FunnelEvt]): Dataset[FunnelUpd] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, FunnelUpd](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[FunnelEvt], state: GroupState[FunnelState]) =>
          val st = state.getOption.getOrElse(FunnelState(Long.MaxValue, Nil, Nil, 0))
          var v = st.v
          var clicks = st.clicks
          var purchases = st.purchases
          val before = solve(v, clicks, purchases)
          // deterministic fold order inside a trigger (the CohortStream
          // rule): arrival order within a batch must not change output
          for (e <- it.toSeq.sortBy(e => (e.tsUs, e.eventType))) e.eventType match {
            case "view"     => if (e.tsUs < v) v = e.tsUs
            case "click"    => clicks = insertSorted(clicks, e.tsUs)
            case "purchase" => purchases = insertSorted(purchases, e.tsUs)
            case _          => ()
          }
          val after = solve(v, clicks, purchases)
          // prune candidates that can never win again (anchors only decrease)
          clicks = after._2.fold(clicks)(fc => clicks.filter(_ <= fc))
          purchases = after._3.fold(purchases)(fp => purchases.filter(_ <= fp))
          val seq = if (after != before) st.seq + 1 else st.seq
          state.update(FunnelState(v, clicks, purchases, seq))
          if (after != before) {
            val stage =
              if (after._3.isDefined) 3 else if (after._2.isDefined) 2 else 1
            Iterator.single(FunnelUpd(user, seq, after._1, after._2, after._3, stage))
          } else Iterator.empty
      }
  }
}
