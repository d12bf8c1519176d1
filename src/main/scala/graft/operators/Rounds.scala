package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

import scala.annotation.tailrec
import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

/** Round bookkeeping for the iterative graph operators (the six
  * view-graph loops of [[EventAnalytics]] and the two component loops
  * of [[Dedup]]). Every loop has the same round:
  *
  *  - a step builds round r's frame from the earlier rounds' frames;
  *  - the frame is checkpointed LAZILY (`localCheckpoint(false)`): its
  *    plan becomes a leaf at once, so no round's plan grows with the
  *    round count, and AQE runs the round's shuffle stages right then;
  *  - the round's one action (a row count or a one-row aggregate) runs
  *    the final stage, which fills the checkpoint, and reads the value
  *    the stop test and the next step need;
  *  - the loop stops at its round budget, or earlier once `done` says
  *    the last round changed nothing.
  *
  * One instance per operator call, opened by [[Rounds.scope]]: every
  * frame it cached or checkpointed is released when the scope closes,
  * except a frame handed to [[keep]] because the operator's returned
  * lazy DataFrame reads it.
  */
private[graft] final class Rounds private {
  import Rounds.{Round, Run}

  private val held = ListBuffer.empty[(DataFrame, () => Unit)]

  /** Caches a frame that every round reads; its first action fills it. */
  def cache(df: DataFrame): DataFrame = {
    val p = df.persist()
    held += (p -> (() => { p.unpersist(); () }))
    p
  }

  /** Checkpoints `df` lazily: the first action that reads it fills it. */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(false)
    val rdd = c.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    held += (c -> (() => { rdd.unpersist(blocking = false); () }))
    c
  }

  /** Rows of a cached or checkpointed frame, in one job over its own
    * partitions (no exchange of its own); fills the frame. */
  def count(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Runs rounds 1 to `maxRounds` after `seed`. Round r checkpoints
    * `step(history, r)`, where the history lists the seed and every
    * earlier round newest first; `action` is the round's one action, on
    * the checkpointed frame; the loop stops early when
    * `done(previous, latest)` holds.
    */
  def loop[A](seed: Round[A], maxRounds: Int)(step: (List[Round[A]], Int) => DataFrame)(
      action: DataFrame => A)(done: (Round[A], Round[A]) => Boolean): Run[A] = {
    @tailrec def go(history: List[Round[A]], r: Int): Run[A] =
      if (r > maxRounds) Run(history, converged = false)
      else {
        val frame = checkpoint(step(history, r))
        val latest = Round(frame, action(frame))
        if (done(history.head, latest)) Run(latest :: history, converged = true)
        else go(latest :: history, r + 1)
      }
    go(List(seed), 1)
  }

  /** Leaves `df` in place when the scope closes. */
  def keep(df: DataFrame): DataFrame = {
    held.filterInPlace(_._1 ne df)
    df
  }

  private def release(): Unit = {
    held.foreach(_._2())
    held.clear()
  }
}

private[graft] object Rounds {

  /** One round's checkpointed frame and the value its action read. */
  final case class Round[A](frame: DataFrame, value: A)

  /** A finished loop: every round newest first (the seed last), and
    * whether `done` stopped it before the budget ran out. */
  final case class Run[A](history: List[Round[A]], converged: Boolean) {
    def last: Round[A] = history.head
  }

  /** Runs `body` with a fresh [[Rounds]] and releases its frames after,
    * also when `body` throws. */
  def scope[T](body: Rounds => T): T = {
    val rounds = new Rounds
    try body(rounds) finally rounds.release()
  }

  /** `df` collected into a local frame of the same schema: an
    * operator's result, which must not replay its rounds once their
    * frames are released. */
  def collected(df: DataFrame): DataFrame = local(df.sparkSession, df.schema, df.collect().toSeq)

  /** `rows` as a local frame of `schema`. */
  def local(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}
