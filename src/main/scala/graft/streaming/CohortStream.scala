package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental cohort-LTV refresh — orders_cohort_ltv's streaming twin
  * (SURVEY.md §2F): per-micro-batch DELTAS to the (cohort_month,
  * month_offset) → (n_active, rev_cents) report, so a live dashboard
  * folds deltas instead of recomputing the cohort rollup per arrival.
  *
  * The hard part a windowed aggregate cannot express: a customer's
  * cohort is the MIN month over their whole order history, so a
  * late-arriving EARLIER order re-assigns the customer's cohort and
  * every prior contribution must MOVE — the operator emits exact
  * negations of the old (cohort, offset) rows and re-emits them under
  * the new cohort. Summing all deltas per (cohort, offset) therefore
  * reproduces the batch aggregate exactly on ANY arrival order
  * (StreamingSpec's "cohortDeltaStream deltas reconstruct
  * orders_cohort_ltv exactly on scrambled arrivals" pins row-equality
  * against the registered derivation, cohort_size/cum/ltv reconstructed
  * the same way the batch query derives them).
  *
  * Scale: state is per-customer and MONTH-bounded — one cohort int +
  * a (midx → rev_cents) map capped by the calendar, never by order
  * count (orders in the same month fold into one entry). Keyed by
  * custkey, so state and per-trigger work distribute across the
  * cluster; a cohort re-assignment touches one customer's map. The
  * delta stream is |touched (cohort, offset)| rows per trigger — a
  * downstream `groupBy(cohort, offset).sum` (or an upsert sink) holds
  * the months² report. */
object CohortStream {

  /** One order arrival: customer, exact month index (year·12+month),
    * revenue in integer cents. */
  case class OrderEvt(custkey: Long, midx: Int, revCents: Long)

  /** One report delta: add dActive/dRevCents to the (cohortIdx, offset)
    * cell. Negative values move a re-cohorted customer's history. */
  case class CohortDelta(cohortIdx: Int, offset: Int, dActive: Long, dRevCents: Long)

  /** Public: the state encoder's generated code must reach the accessors.
    * byMidx is month-bounded by construction. */
  case class CohortState(cohort: Int, byMidx: Map[Int, Long])

  def cohortDeltaStream(orders: Dataset[OrderEvt]): Dataset[CohortDelta] = {
    import orders.sparkSession.implicits._
    orders.groupByKey(_.custkey)
      .flatMapGroupsWithState[CohortState, CohortDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[OrderEvt], state: GroupState[CohortState]) =>
          var cohort = state.getOption.map(_.cohort).getOrElse(Int.MaxValue)
          val byMidx = scala.collection.mutable.Map.empty[Int, Long] ++
            state.getOption.map(_.byMidx).getOrElse(Map.empty)
          // deltas accumulate per (cohort, offset) within the trigger so a
          // re-cohort inside one batch collapses instead of churning rows
          val acc = scala.collection.mutable.Map.empty[(Int, Int), (Long, Long)]
          def add(c: Int, midx: Int, dA: Long, dR: Long): Unit = {
            val k = (c, midx - c)
            val (a, r) = acc.getOrElse(k, (0L, 0L))
            acc(k) = (a + dA, r + dR)
          }
          // deterministic fold order (midx, then cents) — arrival order
          // inside a trigger must not change the emitted deltas
          for (o <- it.toSeq.sortBy(o => (o.midx, o.revCents))) {
            if (o.midx < cohort) {
              if (cohort != Int.MaxValue) {
                // re-cohort: move every existing cell old→new
                byMidx.foreach { case (m, r) =>
                  add(cohort, m, -1L, -r); add(o.midx, m, 1L, r)
                }
              }
              cohort = o.midx
            }
            byMidx.get(o.midx) match {
              case Some(r) => byMidx(o.midx) = r + o.revCents
                add(cohort, o.midx, 0L, o.revCents)
              case None => byMidx(o.midx) = o.revCents
                add(cohort, o.midx, 1L, o.revCents)
            }
          }
          state.update(CohortState(cohort, byMidx.toMap))
          acc.toSeq.sortBy(_._1)
            .collect { case ((c, off), (dA, dR)) if dA != 0L || dR != 0L =>
              CohortDelta(c, off, dA, dR)
            }.iterator
      }
  }
}
