package graft.plans

import org.apache.spark.sql.SparkSession

/** `newSession()` with the parent's RUNTIME execution confs carried over,
  * plus the confs the child sets.
  *
  * A bare `newSession()` builds its SQLConf from builder-time SparkConf
  * entries only — runtime `spark.conf.set` values on the parent (the
  * shuffle-partition overrides PropertySpec's parallelism-invariance
  * harness applies, a driver's timezone pin) silently reset to defaults in
  * the child. Every module that isolates a conf in a child session (the
  * rule demos, the stream sessions) routes through here, or its queries
  * run at the BUILDER parallelism no matter what the caller set — which
  * made the invariance property vacuous for child-session queries until
  * r10.
  *
  * A `newSession()` child also starts without the parent's temp functions
  * and experimental rules, so [[apply]] installs graft there
  * ([[graft.GraftExtensions.install]]).
  */
private[graft] object ChildSession {
  def apply(spark0: SparkSession, confs: (String, String)*): SparkSession = {
    val s = spark0.newSession()
    graft.GraftExtensions.install(s)
    carry(spark0, s, confs: _*)
  }

  /** Carry `spark0`'s runtime confs into `s`, then set `confs` there. */
  def carry(spark0: SparkSession, s: SparkSession,
      confs: (String, String)*): SparkSession = {
    // Carry EVERY modifiable runtime conf whose parent value differs from
    // the child's builder-time default — not an allowlist, so ANSI mode,
    // adaptive settings, or any harness-toggled conf survive the hop too.
    // EXCEPT the graft rule namespace: a child session exists precisely to
    // isolate one rule flag, and the "stock" ledger arms are built as bare
    // ChildSession(spark0) — carrying spark.sql.graft.* would let a parent
    // that ever enabled a rule silently un-stock every off arm built after.
    // Arms that want a rule set its keys on the child explicitly.
    for ((k, v) <- spark0.conf.getAll
         if s.conf.isModifiable(k) && !k.startsWith("spark.sql.graft.") &&
           !s.conf.getOption(k).contains(v))
      s.conf.set(k, v)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
