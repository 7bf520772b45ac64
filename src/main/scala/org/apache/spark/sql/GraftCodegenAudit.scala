package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** JIT-compilability audit of a plan's whole-stage-codegen output
  * (r13 verdict #1).
  *
  * WHY: Spark's own guard (`spark.sql.codegen.hugeMethodLimit`,
  * default 65535 — the JVM's hard per-method bytecode ceiling) only
  * rejects code Janino cannot emit at all. HotSpot's C1/C2 JIT has a
  * much lower SILENT ceiling: `-XX:DontCompileHugeMethods` (on by
  * default) refuses to compile any method over 8000 bytecode bytes, so
  * a fused whole-stage method in (8000, 65535] compiles, runs,
  * and produces correct rows — in the BYTECODE INTERPRETER, ~7–10×
  * slower per row (measured live: q203/q271 ran interpreted for four
  * rounds at ~18 µs/row until the Hilbert `Column` chains were
  * replaced with loop-shaped kernels, 10.5 → 1.5 s). Nothing in Spark
  * logs or metrics surfaces the bailout; the only witnesses are
  * `-XX:+PrintCompilation`'s "hot method too big" lines or this audit.
  *
  * WHAT: walk an EXECUTED plan (adaptive final plan, materialized
  * query stages, expression subqueries), re-emit each
  * `WholeStageCodegenExec` stage's source via `doCodeGen()`, compile
  * it through Spark's own `CodeGenerator.compile` (a cache hit for
  * stages the execution already compiled), and report Janino's
  * per-class `ByteCodeStats.maxMethodCodeSize` — the exact number the
  * 8000-byte HotSpot ceiling applies to.
  *
  * Lives in `org.apache.spark.sql` (the [[GraftColumns]] discipline)
  * because `CodeGenerator.compile` and the adaptive-plan accessors are
  * `private[spark]`-scoped at the Scala level.
  */
object GraftCodegenAudit {

  /** HotSpot's DontCompileHugeMethods default: methods over this many
    * bytecode bytes are never JIT-compiled — they run interpreted.
    */
  val HotSpotHugeMethodLimit = 8000

  /** One whole-stage-codegen stage's compile stats.
    *
    * @param stageId        the `codegenStageId` shown as `(N)` in
    *                       `.explain("formatted")`
    * @param rootNode       node name of the stage's fused root
    * @param maxMethodCodeSize largest generated method, bytecode bytes
    * @param maxConstPoolSize  largest constant pool across the class nest
    * @param srcChars       generated source size, chars (context)
    */
  final case class StageStat(stageId: Int, rootNode: String,
                             maxMethodCodeSize: Int,
                             maxConstPoolSize: Int,
                             srcChars: Int) {
    def overJitLimit: Boolean = maxMethodCodeSize > HotSpotHugeMethodLimit
  }

  /** Every [[WholeStageCodegenExec]] reachable from `plan`, crossing
    * adaptive wrappers, materialized query stages, and expression
    * subqueries (scalar + IN). On an executed plan this is the FINAL
    * set of fused stages — the code that actually ran.
    */
  private def wscgStages(plan: SparkPlan): Seq[WholeStageCodegenExec] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WholeStageCodegenExec]
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case w: WholeStageCodegenExec => out += w; w.children.foreach(walk)
        case other                    => other.children.foreach(walk)
      }
      p.expressions.foreach(_.foreach {
        case s: execution.ExecSubqueryExpression => walk(s.plan)
        case _                                   => ()
      })
    }
    walk(plan)
    out.toSeq
  }

  /** Compile stats for every whole-stage-codegen stage an EXECUTED
    * Dataset's final plan contains. Execute the plan first (e.g.
    * `df.queryExecution.toRdd.count()`) or the adaptive walk sees only
    * the initial, pre-replan stages.
    */
  def audit(df: Dataset[_]): Seq[StageStat] = {
    val plan = df.asInstanceOf[classic.Dataset[_]]
      .queryExecution.executedPlan
    wscgStages(plan).map { w =>
      val (_, source) = w.doCodeGen()
      val (_, stats) = CodeGenerator.compile(source)
      StageStat(w.codegenStageId, w.child.nodeName,
                stats.maxMethodCodeSize, stats.maxConstPoolSize,
                source.body.length)
    }
  }

  /** Generated classes Janino has compiled in this JVM (cache misses;
    * a hit compiles nothing). `CodegenMetrics` is `private[spark]`.
    */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One compiled generated class as seen in [[CodeGenerator]]'s
    * compile cache: an identity token for diffing, the class's largest
    * method (bytecode bytes), and enough of the source to name it.
    */
  final case class CacheEntry(token: Int, maxMethodCodeSize: Int,
                              maxConstPoolSize: Int, srcChars: Int,
                              label: String) {
    def overJitLimit: Boolean = maxMethodCodeSize > HotSpotHugeMethodLimit
  }

  private lazy val cacheField = {
    val f = CodeGenerator.getClass.getDeclaredField("cache")
    f.setAccessible(true)
    f
  }

  /** Snapshot of EVERY generated class currently in the compile cache —
    * the plan-walk's complement: a query whose work happens in
    * INTERMEDIATE jobs (eager checkpoints, iterative rounds, writes)
    * truncates those stages out of its final plan, but every class any
    * of its jobs compiled passed through this cache. Diff snapshots
    * around a query to attribute its newly compiled classes (classes
    * already compiled by an earlier query are cache hits and stay
    * attributed to their first compiler — fine for a zero-over-limit
    * suite guarantee, which is a property of the UNION). The cache is
    * capacity-bounded (`spark.sql.codegen.cache.maxEntries`, which
    * `graft.GraftSession` sets to `CodegenCacheEntries`, 1,000, well
    * above one query's classes: q269 compiles 98), so diff per query,
    * not once at the end: over a whole suite the oldest classes are
    * evicted, and one recompiled later counts as the later query's.
    */
  def compileCacheSnapshot(): Seq[CacheEntry] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.expressions.codegen.{ByteCodeStats, CodeAndComment}
    // Reflection throughout: the cache val, the wrapper's loadingCache
    // accessor, and guava's asMap all sit behind access scopes no
    // package placement satisfies.
    val nfs = cacheField.get(CodeGenerator)
    val lcM = nfs.getClass.getMethod("loadingCache")
    lcM.setAccessible(true)
    val lc = lcM.invoke(nfs)
    val asMapM = lc.getClass.getMethod("asMap")
    asMapM.setAccessible(true)
    val entries = asMapM.invoke(lc)
      .asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala.toSeq
    entries.flatMap {
      case (k: Product, v: Product)
          if k.productArity == 2 && v.productArity == 2 =>
        (k.productElement(1), v.productElement(1)) match {
          case (code: CodeAndComment, st: ByteCodeStats) =>
            // identity of the generated source, stable across snapshots
            val token = System.identityHashCode(code)
            val label = code.body.linesIterator
              .collectFirst {
                case l if l.contains("class ") && l.contains("extends") =>
                  l.trim.take(80)
              }
              .getOrElse(code.body.take(60).replace('\n', ' '))
            Some(CacheEntry(token, st.maxMethodCodeSize,
                            st.maxConstPoolSize, code.body.length, label))
          case _ => None
        }
      case _ => None
    }
  }
}
