package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Deterministic release of materialized intermediates.
  *
  * The builders/sinks/iterative operators in this library truncate
  * multi-consumer or per-round lineage with EAGER `localCheckpoint`
  * (plan-canonicalization rationale at
  * [[graft.dedup.Dedup.ngramJaccardPairs]]) or pin a multi-scan input
  * with `persist`. Left to the ContextCleaner, a checkpoint's blocks are
  * retired only when the frame is GC'd — GC-timing-dependent: a
  * long-running driver (a streaming admission sink, a bench session,
  * repeated graph builds) accretes MEMORY_AND_DISK blocks between GCs.
  * Owners therefore release them explicitly, as soon as every consumer has
  * materialized (StreamingCacheHygieneSpec / DedupSpec / GraphSpec pin
  * non-accretion).
  *
  * SCOPE. [[scope]] owns that lifecycle: every frame pinned through its
  * [[Scope]] — by eager `localCheckpoint` ([[Scope.checkpoint]]), by
  * `persist` ([[Scope.persist]]), or adopted already materialized
  * ([[Scope.adopt]], e.g. a pair builder's returned relation or a graph
  * builder's returned checkpoint) — is released when the block exits,
  * whether it returns or throws. Iterative loops pin each round's frame
  * through the scope too and retire the superseded one with
  * [[Scope.release]] as soon as its successor is materialized, so at most
  * two rounds are live and a throw mid-loop leaks nothing.
  *
  * ONE-SHOT RESULT CONTRACT. A released checkpoint cannot be recomputed;
  * that is safe exactly when every consumer has already materialized its
  * own result, and it is the same consequence as the block's executor
  * dying (the documented localCheckpoint fault-tolerance trade). A
  * builder's result is therefore made with [[Scope.result]] — persisted
  * and counted INSIDE the block, so it survives the block's release — and
  * every such frame a public builder returns is one-shot: consume it from
  * the cache and `unpersist` it when done; do not unpersist-and-recompute
  * it, and treat cache-block loss like executor loss (re-run the builder).
  *
  * RETURNED-CHECKPOINT CONTRACT. An iterative builder whose final round is
  * already an eager checkpoint (pageRank, labelPropagation*,
  * kCoreFixpoint, connectedComponents) returns that checkpoint itself,
  * handed out of the scope with [[Scope.keep]] — no extra persist+count
  * job. The caller owns it: release it with [[releaseLocal]] (or
  * [[Scope.adopt]] it) once consumed; left alone, the ContextCleaner
  * retires it when the frame is GC'd. Block loss has the same
  * consequence as under the one-shot contract.
  */
object Blocks {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The frames one [[scope]] block owns; see the object doc. */
  final class Scope private[Blocks] () {
    private var pins = List.empty[(DataFrame, () => Unit)]

    private def pin(df: DataFrame, free: () => Unit): DataFrame = {
      pins ::= (df -> free)
      df
    }

    /** Eager `localCheckpoint` of `df`; its blocks are released at exit. */
    def checkpoint(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      pin(c, () => releaseLocal(c))
    }

    /** `persist` of `df` at the default cache level (lazy, as persist is);
      * unpersisted at exit. */
    def persist(df: DataFrame): DataFrame = {
      val p = df.persist()
      pin(p, () => p.unpersist(false))
    }

    /** Take ownership of an already-materialized frame: a cached one is
      * unpersisted at exit, a returned checkpoint has its blocks released. */
    def adopt(df: DataFrame): DataFrame =
      pin(df,
        if (df.storageLevel != StorageLevel.NONE) () => df.unpersist(false)
        else () => releaseLocal(df))

    /** Release a frame pinned through this scope NOW — a loop's superseded
      * round, once its successor is materialized. */
    def release(df: DataFrame): Unit = {
      val (mine, rest) = pins.partition(_._1 eq df)
      require(mine.nonEmpty, "release: frame was not pinned through this scope")
      pins = rest
      mine.foreach(_._2())
    }

    /** Hand a pinned frame to the caller without a new job: it is NOT
      * released at exit (the returned-checkpoint contract). */
    def keep(df: DataFrame): DataFrame = {
      require(pins.exists(_._1 eq df), "keep: frame was not pinned through this scope")
      pins = pins.filterNot(_._1 eq df)
      df
    }

    /** The block's result: persisted and materialized now, and NOT released
      * at exit — the caller owns it under the one-shot contract. */
    def result(df: DataFrame): DataFrame = {
      val r = df.persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }

    private[Blocks] def releaseAll(): Unit = pins.foreach(_._2())
  }

  /** Run `body` with a fresh [[Scope]] and release everything pinned
    * through it when `body` returns or throws. */
  def scope[A](body: Scope => A): A = {
    val s = new Scope
    try body(s) finally s.releaseAll()
  }

  /** Unpersist the materialized RDD blocks behind each frame's
    * `LogicalRDD` leaves NOW instead of waiting for the ContextCleaner.
    * A frame with no such leaf is a call-site bug (the caller thinks it
    * owns a checkpoint it never made — those blocks would leak silently),
    * so it is logged rather than swallowed. */
  def releaseLocal(dfs: DataFrame*): Unit = dfs.foreach { df =>
    val rdds = df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    if (rdds.isEmpty)
      log.warn(
        "releaseLocal: frame has no LogicalRDD leaf — nothing released " +
          s"(caller expected a localCheckpoint it does not own?): " +
          df.queryExecution.analyzed.nodeName)
    rdds.foreach(_.unpersist(false))
  }
}
