package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.{col, md5}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.operators.CorpusOps

/** Streaming twin of [[graft.operators.Funnels.funnel]] — a per-user
  * step tracker via `flatMapGroupsWithState`, completing the events family
  * the way [[StreamingDedup]] completes dedup: the batch funnel re-scans
  * the event log per report; this emits each user's step advancement AS IT
  * HAPPENS, so the live conversion dashboard is a `groupBy(step_idx).count`
  * over the emitted rows.
  *
  * Semantics match the batch op: a user advances to step i when a step-i
  * event lands strictly AFTER their step-(i−1) reach time (their FIRST
  * qualifying occurrence — later duplicates are ignored), optionally within
  * `withinSeconds` of it (the conversion window). Events are processed in
  * event-time order within each micro-batch; late events that arrive in a
  * LATER batch than a step they should have preceded are a streaming
  * reality the batch twin doesn't have — counts match on in-order inputs
  * (spec-proven), and the watermark bounds how late data can matter at all.
  *
  * Scale/state contract: ONE tiny (step, reach_ts) record per user still
  * MID-funnel — no event buffering (unlike topPaths, nothing accumulates
  * per event), and NO record at all for users who have not yet matched the
  * first step (step-0 qualification needs no history, so nothing is stored
  * until a user actually enters the funnel — users emitting only
  * non-funnel event types cost zero state). State is removed the moment a
  * user completes the last step; with a conversion window set, a user
  * whose window has expired can never advance within that attempt, so
  * their state is reaped by an event-time timeout at
  * `reach_ts + withinSeconds` — under a window, state holds only users who
  * can still convert. Without a window the funnel is open-ended and state
  * is one record per mid-funnel user (document the retention choice; real
  * deployments should set a window).
  *
  * RESTART-AFTER-REAP semantics (deliberate, documented divergence from
  * the batch twin): once a user's expired-window state is reaped, a later
  * step-0 event starts a FRESH attempt and re-emits step_idx 1 for that
  * user — the stream counts funnel ATTEMPTS reaching each step, where the
  * batch twin (one pass over a closed log) counts only each user's first
  * attempt. Keeping a per-user tombstone instead would restore exactly-
  * once-per-user counting but reintroduces the unbounded one-record-per-
  * ever-seen-user state this operator exists to avoid; at firehose user
  * cardinality, bounded state wins. Dashboards needing per-user uniqueness
  * should `dropDuplicates("user_id", "step_idx")` over a bounded horizon
  * downstream. On in-order input where no window expiry fires, emissions
  * match the batch twin (spec-proven). */
object StreamingFunnel {

  case class FEvt(user_id: Long, ts: Timestamp, event_type: String)
  /** `step` = number of steps reached so far; `reachTs` = epoch-ms reach
    * time of the latest reached step. */
  case class FunnelState(step: Int, reachTs: Long)
  case class StepReached(user_id: Long, step_idx: Long, step: String,
                         reach_ts: Timestamp)

  implicit val evtEnc: Encoder[FEvt] = Encoders.product[FEvt]
  implicit val stEnc: Encoder[FunnelState] = Encoders.product[FunnelState]
  implicit val outEnc: Encoder[StepReached] = Encoders.product[StepReached]
  implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /** `events` must be a streaming Dataset[FEvt] with a watermark applied on
    * `ts` (required by the event-time timeout that reaps expired-window
    * users). Emits one StepReached row per (user, newly reached step). */
  def funnelSteps(events: Dataset[FEvt], steps: Seq[String],
                  withinSeconds: Option[Long] = None): Dataset[StepReached] = {
    require(steps.nonEmpty, "funnelSteps: at least one step")
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StepReached](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[FEvt],
         state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // conversion window expired — this user can never advance
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
            val out = List.newBuilder[StepReached]
            rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
              if (s.step < steps.length && e.event_type == steps(s.step)) {
                val t = e.ts.getTime
                val qualifies =
                  if (s.step == 0) true
                  else t > s.reachTs &&
                    withinSeconds.forall(w => t <= s.reachTs + w * 1000L)
                if (qualifies) {
                  s = FunnelState(s.step + 1, t)
                  out += StepReached(user, s.step.toLong, steps(s.step - 1),
                    new Timestamp(t))
                }
              }
            }
            if (s.step >= steps.length) {
              // funnel complete — nothing left to track
              if (state.exists) state.remove()
            } else if (s.step == 0) {
              // Nothing reached: step-0 qualification is unconditional, so
              // a FunnelState(0, MinValue) record carries no information —
              // storing it would leak one never-reaped state entry per user
              // that merely APPEARS in the stream (e.g. only non-funnel
              // event types), since no timeout can be anchored to a
              // nonexistent reach time. Skip the write; stored states
              // therefore always have step >= 1, and under a window every
              // stored state carries a reaping timeout.
            } else {
              state.update(s)
              // reap under a window (clamped above the watermark — a stale
              // reachTs must not throw); windowless funnels are open-ended
              // by contract
              withinSeconds.foreach { w =>
                state.setTimeoutTimestamp(math.max(s.reachTs + w * 1000L,
                  state.getCurrentWatermarkMs() + 1))
              }
            }
            out.result().iterator
          }
      }
  }

  /** [[curationServe]] WITH ADMISSION — the closed loop a live crawl
    * pipeline actually runs: each micro-batch is judged against the
    * current corpus state (same order-exact 4-row frame to `deliver`),
    * and the batch's SURVIVORS are then appended into all four state
    * relations ([[CorpusOps.funnelStateAppend]]) — so batch N+1's
    * duplicates of batch N's admitted docs are caught as duplicates,
    * not re-admitted (spec-proven: a near-copy of an earlier-batch
    * survivor drops at near_dedup in the later batch).
    *
    * Evaluation discipline: the survivor frame is EAGERLY
    * localCheckpoint-ed before anything is delivered or appended — one
    * evaluation, pinned against the PRE-append state (the appends
    * would otherwise race their own input: the span append reads the
    * span census the scrub stage probes), and the attrition counts
    * read the same pinned rows the appends write. Replay contract as
    * [[CorpusOps.funnelStateAppend]] documents: state appends are
    * duplicate-tolerant, so an at-least-once replay degrades probe
    * cost, never verdicts; deliveries stay keyed by batchId. */
  def curationAdmit(docs: DataFrame, fpTable: String, bandsTable: String,
                    setsTable: String, spanFpTable: String,
                    checkpointDir: String,
                    fp: Column = md5(col("text")),
                    jaccardThreshold: Double = 0.8,
                    minNovelTokens: Long = 20,
                    estimatedItems: Long = 1L << 16,
                    numBits: Long = 1L << 19,
                    trigger: Trigger = MicroBatch.Interval)
                   (deliver: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      val st = CorpusOps.incrementalStagesIndexed(batch.sparkSession,
        batch, fpTable, bandsTable, setsTable, spanFpTable, fp,
        jaccardThreshold, minNovelTokens, estimatedItems, numBits)
      val survivors = st.last.localCheckpoint() // eager — see scaladoc
      deliver(CorpusOps.globalAttrition(st.init :+ survivors,
        CorpusOps.IncrementalStageSpecs), batchId)
      CorpusOps.funnelStateAppend(survivors, fpTable, bandsTable,
        setsTable, spanFpTable, fp)
    }

  /** CURATION funnel served ONLINE — the live form of
    * [[CorpusOps.curationFunnelIncremental]]: a production crawl pipeline
    * doesn't ask "what did curation drop" once per corpus version, it
    * asks it PER INCREMENT, as the increments arrive. Each micro-batch of
    * documents runs gate → exact dedup → near dedup → span scrub against
    * the PERSISTED corpus state ([[CorpusOps.funnelWriteState]]'s fp
    * universe, band/sets index, and span census — the corpus itself is
    * never rescanned), and `deliver` receives the batch's 4-row
    * order-exact attrition frame plus the batch id — row-identical to
    * the batch operator on the same increment and state (spec-proven in
    * StreamingSpec, the [[StreamingTakedown.serve]] parity pattern). The
    * banding and span width are the state's own, recorded by
    * [[CorpusOps.funnelWriteState]].
    *
    * `foreachBatch` for the StreamingTakedown reasons: the stages are
    * joins against CATALOG tables plus candidate-bounded scoring —
    * shapes the streaming planner can't run incrementally — and the
    * delivery target (the attrition dashboard, the admission log) is
    * caller-supplied. Source offsets commit through
    * `checkpointLocation`: each increment is judged exactly once, and a
    * replayed batch re-emits the same deterministic frame (idempotent
    * delivery by batchId, the FtpLikeSink discipline).
    *
    * ADMISSION is the maintenance path, not this op: survivors should
    * enter the corpus via the index-append operators
    * ([[graft.operators.Dedup.nearDupIndexAppend]] et al.), and the next
    * batch's `spark.table` resolves the grown state transparently — the
    * same contract StreamingTakedown documents for takedown appends. */
  def curationServe(docs: DataFrame, fpTable: String, bandsTable: String,
                    setsTable: String, spanFpTable: String,
                    checkpointDir: String,
                    fp: Column = md5(col("text")),
                    jaccardThreshold: Double = 0.8,
                    minNovelTokens: Long = 20,
                    estimatedItems: Long = 1L << 16,
                    numBits: Long = 1L << 19,
                    trigger: Trigger = MicroBatch.Interval)
                   (deliver: (DataFrame, Long) => Unit): StreamingQuery =
    MicroBatch.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      deliver(CorpusOps.curationFunnelIncrementalIndexed(
        batch.sparkSession, batch, fpTable, bandsTable, setsTable,
        spanFpTable, fp, jaccardThreshold, minNovelTokens, estimatedItems,
        numBits), batchId)
    }
}
