package org.apache.spark.sql.graftvec

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.internal.StaticSQLConf

/** Size of Spark's cache of generated classes in engine sessions.
  *
  * Catalyst compiles one Java class per whole-stage-codegen stage and per
  * projection, predicate or ordering, and keeps them in `CodeGenerator`'s
  * cache, keyed on the generated source. The cache is sized once per JVM,
  * from `SQLConf.get`'s static `spark.sql.codegen.cache.maxEntries`, when
  * `CodeGenerator` is first used. Setting the key on the SparkContext's
  * conf before any session state exists therefore reaches it: the shared
  * state clones that conf, and every session's SQLConf is merged from it.
  */
object CodegenCache {

  /** Entries in the generated-class cache of an engine session.
    *
    * Spark's default, 100, sits below the engine's working set, so a
    * repeated workload recompiles its classes on every pass: one pass of
    * `Pipelines.fullCuration` plus three registry queries (`q01`, `q187`,
    * `q281`) touches at least 126 distinct classes (80 + 14 + 20 + 12;
    * the funnel's 80 are the classes its first run compiles in a fresh
    * JVM at sf0.01, counted in October 2026),
    * and Guava splits the 100 entries into 4 LRU segments of 25, so a
    * segment evicts well before the total does. 1024 (4 segments of 256)
    * holds several such passes.
    */
  val MaxEntries: Int = 1024

  /** Sets [[MaxEntries]] on `conf` unless the key is already set there, so
    * a value given explicitly (builder option, `spark-submit --conf`)
    * wins.
    */
  def size(conf: SparkConf): SparkConf =
    conf.setIfMissing(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, MaxEntries.toString)

  /** [[size]] on the active SparkContext's own conf (`SparkContext.conf`
    * is `private[spark]`; `getConf` returns a copy). Called by
    * `graft.GraftExtensions`, which Spark applies after it creates the
    * context and before it builds the session state. It has no effect
    * when `CodeGenerator` was already used in this JVM, by a session
    * that does not load the extensions.
    */
  def sizeActive(): Unit = SparkContext.getActive.foreach(sc => size(sc.conf))
}
