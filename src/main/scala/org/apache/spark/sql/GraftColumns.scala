package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge from a custom Catalyst [[Expression]] to a user-facing [[Column]].
  *
  * Spark 4 made `new Column(expr)` private; the supported alternatives are
  * `SparkSessionExtensions.injectFunction` + `call_function` (needs session
  * wiring) or `classic.ExpressionUtils.column` (scoped `private[sql]`).
  * This one-liner lives in the `org.apache.spark.sql` package purely to
  * satisfy that scope so graft's expressions (e.g.
  * `graft.functions.DotFloat`) compose like any built-in column function
  * with no per-session registration.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** RDD name marking a localCheckpoint CREATED BY a graft operator
    * (via [[checkpoint]]). [[unpersistCheckpoint]] releases only RDDs
    * carrying this tag, so a caller-owned checkpoint embedded in a
    * released plan can never be destroyed by the library.
    */
  val CheckpointTag = "graft-ckpt"

  /** `localCheckpoint()` + tag: the graft-library way to materialize an
    * intermediate. Identical semantics to `Dataset.localCheckpoint`
    * (eager, lineage-truncating, blocks NOT recomputable), plus the
    * resulting `LogicalRDD`'s RDD is named [[CheckpointTag]] so
    * [[unpersistCheckpoint]] can later release it while provably
    * leaving foreign (caller-created, untagged) checkpoints alone,
    * plus the carried size estimate is CLAMPED ([[clampStats]]) so
    * iterative self-joining loops can't compound it without bound.
    */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    clampStats(tag(ds.localCheckpoint()))

  /** LAZY [[checkpoint]]: marks the plan's RDD for local checkpointing
    * and tags it, but runs NO job — the FIRST action a caller fires on
    * the result (a count, an aggregate, a downstream round) computes
    * the partitions and persists the blocks as a side effect. This is
    * the iterative-loop latency lever: a convergence witness
    * (row count, label sum) can ride the SAME job that materializes
    * the round instead of paying one eager-checkpoint job plus one
    * witness job per round. Callers MUST fire exactly one full action
    * before relying on the checkpoint semantics (lineage truncation is
    * already in the returned plan; block persistence happens at first
    * compute).
    */
  def lazyCheckpoint[T](ds: Dataset[T]): Dataset[T] =
    clampStats(tag(ds.localCheckpoint(eager = false)))

  private def tag[T](c: Dataset[T]): Dataset[T] = {
    c.asInstanceOf[classic.Dataset[T]].queryExecution.analyzed.foreach {
      case l: execution.LogicalRDD => l.rdd.setName(CheckpointTag); ()
      case _ => ()
    }
    c
  }

  /** Ceiling on the size/row-count estimate a graft checkpoint carries
    * forward (2^50 bytes ≈ 1 PB — far above every broadcast and
    * join-strategy threshold, so any estimate the clamp touches was
    * already "huge" to the planner; estimates of genuinely small
    * frames pass through exact and keep their broadcast plans).
    */
  private val MaxCarriedStat = BigInt(1L << 50)

  private lazy val originConstraintsField = {
    val f = classOf[execution.LogicalRDD].getDeclaredField("originConstraints")
    f.setAccessible(true)
    f
  }

  /** Clamp the `originStats` a `localCheckpoint` carries forward.
    *
    * Spark's checkpoint keeps the checkpointed plan's ESTIMATED
    * statistics on the `LogicalRDD` so downstream planning still sees
    * realistic sizes. For an ITERATIVE operator that is a trap:
    * `SizeInBytesOnlyStatsPlanVisitor` estimates a join as the PRODUCT
    * of its children's sizes, so a loop that self-joins its own
    * checkpoint (connected components' pointer jumps, the suffix-array
    * pair rounds) SQUARES the carried estimate per join — after r
    * rounds the `sizeInBytes` BigInt holds ~2^r·64 bits and the
    * planner burns minutes in ToomCook BigInteger multiplication
    * (observed live: q145's CC at sf0.1 spent >60 s/round inside
    * `Statistics` math by round 6 at 3 jumps/round). Clamping at every
    * checkpoint bounds the compounding: carried estimates stay ≤ 2^50,
    * so any one round's plan multiplies a handful of ≤2^50 values —
    * microseconds — while small frames keep exact estimates and their
    * broadcast plans. Row counts clamp too (the CBO path multiplies
    * them the same way).
    */
  private def clampStats[T](c: Dataset[T]): Dataset[T] = {
    val cd = c.asInstanceOf[classic.Dataset[T]]
    cd.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        val st = l.stats
        val needs = st.sizeInBytes > MaxCarriedStat ||
          st.rowCount.exists(_ > MaxCarriedStat)
        if (!needs) c
        else {
          val ns = st.copy(
            sizeInBytes = st.sizeInBytes.min(MaxCarriedStat),
            rowCount = st.rowCount.map(_.min(MaxCarriedStat)))
          val cons = originConstraintsField.get(l)
            .asInstanceOf[Option[
              org.apache.spark.sql.catalyst.expressions.ExpressionSet]]
          val np = new execution.LogicalRDD(
            l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
            l.isStreaming, l.stream)(cd.sparkSession, Some(ns), cons)
          new classic.Dataset[T](cd.sparkSession, np, cd.exprEnc)
        }
      case _ => c
    }
  }

  /** [[checkpoint]] of `ds` hash-partitioned by `partCols` into
    * `numParts` partitions and sorted within partitions by `sortCols`,
    * MATERIALIZED WITH AQE OFF so the resulting `LogicalRDD` carries
    * the HashPartitioning + ordering into downstream plans (under AQE
    * the executed plan is an AdaptiveSparkPlanExec, whose
    * outputPartitioning is UnknownPartitioning(0) — it never overrides
    * SparkPlan's default — so the layout this exchange pays for would
    * be forgotten and every later join/aggregate/window keyed the same
    * way would re-shuffle). The statement's plan is a fixed
    * repartition + sort — AQE has nothing to adapt — and AQE is turned
    * off only on a cloned session, never on the caller's; consumers keep
    * running under AQE unchanged. This is the iterative-loop shuffle
    * lever: pay the keyed exchange ONCE, let every round's keyed
    * operation reuse it.
    */
  def keyedCheckpoint[T](ds: Dataset[T], numParts: Int,
                         partCols: Seq[Column],
                         sortCols: Seq[Column]): Dataset[T] = {
    val keyed = ds.repartition(numParts, partCols: _*)
      .sortWithinPartitions(sortCols: _*)
    // AQE is disabled on a CLONED session (shared SparkContext, copied
    // session state), never on the caller's: a statement planned
    // concurrently on the shared session during this materialization
    // window must not silently lose AQE (r15 verdict #7 — the old form
    // set/restored the conf on the shared session, which was safe only
    // under a single-threaded driver). The keyed frame is re-bound to
    // the clone for planning/execution; the materialized LogicalRDD is
    // then re-hosted on the caller's session so the returned Dataset
    // composes with the caller's frames as before.
    val cd = keyed.asInstanceOf[classic.Dataset[T]]
    val origin = cd.sparkSession
    val clone = origin.cloneSession()
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    val onClone = new classic.Dataset[T](
      clone, cd.queryExecution.logical, cd.exprEnc)
    val ckpt = checkpoint(onClone).asInstanceOf[classic.Dataset[T]]
    ckpt.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        val cons = originConstraintsField.get(l)
          .asInstanceOf[Option[
            org.apache.spark.sql.catalyst.expressions.ExpressionSet]]
        val np = new execution.LogicalRDD(
          l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
          l.isStreaming, l.stream)(origin, Some(l.stats), cons)
        new classic.Dataset[T](origin, np, ckpt.exprEnc)
      case _ => ckpt.asInstanceOf[Dataset[T]]
    }
  }

  /** ACTUAL materialized size (memory + disk block bytes) of an EAGER
    * graft checkpoint, or -1 when unavailable (not a checkpoint scan,
    * blocks evicted, empty frame). Unlike the plan-carried ESTIMATES
    * ([[clampStats]]' subject) this is ground truth from the block
    * manager — the number an operator can size a deliberate
    * re-partitioning from (e.g. [[graft.operators.GraphOps]]'
    * keyed adjacency checkpoints derive their partition count as
    * bytes / advisoryPartitionSize, the same sizing rule AQE's
    * coalescing applies to shuffles). In-memory deserialized sizes run
    * larger than shuffle-serialized bytes, so a consumer dividing by a
    * byte target errs toward MORE partitions — the safe side.
    */
  def materializedBytes(df: Dataset[_]): Long =
    // collectFirst over the WHOLE analyzed tree, not a bare-root match
    // (r15 ADVICE): a size hint is routinely a Project over the
    // checkpoint (e.g. `denseRank(...).select(...)`), and the bare
    // match returned -1 for it — silently sending every keyed
    // checkpoint sized from such a hint to the fixed shuffle-partition
    // fallback (the measured +13%-wall micro-task regime). Only tagged
    // graft checkpoints count (a foreign cached RDD embedded in the
    // plan must not size someone else's partitioning); the first one
    // found is the hint's own materialization by construction. The
    // checkpoint's blocks can only OVERSTATE a projection of it, which
    // errs toward more partitions — the safe side.
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.collectFirst {
      case l: execution.LogicalRDD if l.rdd.name == CheckpointTag =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id)
          .map(i => i.memSize + i.diskSize)
          .filter(_ > 0L)
          .getOrElse(-1L)
    }.getOrElse(-1L)

  /** Release the block-manager storage behind graft-created
    * `localCheckpoint`s ([[checkpoint]]) in a Dataset's plan.
    * `Dataset.unpersist` only covers cache-manager entries, not the RDD
    * blocks a local checkpoint pins, so iterative operators (e.g.
    * connected components, one checkpoint per round) would otherwise hold
    * every round's blocks until the driver GC happens to collect the RDD
    * reference (ContextCleaner). Explicit release bounds an iterative
    * operator's storage footprint to O(1) rounds instead of O(rounds) —
    * on a long-lived 100 TB session that difference is executor storage
    * eviction pressure.
    *
    * Traverses EVERY `LogicalRDD` the plan transitively reads (the
    * whole analyzed tree, not just a root), so an operator result that
    * is a narrow projection/join OVER its final checkpoints still works
    * as its own release handle — the "result == handle" contract the
    * graft operators document. Only RDDs tagged [[CheckpointTag]] are
    * unpersisted: a caller-owned localCheckpoint (or RDD-backed cached
    * frame) embedded in a released plan keeps its blocks. The tag
    * distinguishes graft-created checkpoints from FOREIGN ones — it
    * does not arbitrate ownership BETWEEN graft operators (all graft
    * checkpoints share one tag, so a graft checkpoint returned by one
    * operator and embedded in another released plan is released with
    * it); composing graft results still requires the caller to release
    * only plans it owns in full. No-op for plans with no graft
    * checkpoint.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.foreach {
      case l: execution.LogicalRDD if l.rdd.name == CheckpointTag =>
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
}
