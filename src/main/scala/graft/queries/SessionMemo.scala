package graft.queries

import org.apache.spark.sql.SparkSession

/** Session-scoped memo for DETERMINISTIC shared builds (VERDICT r15
  * #1a): several registrations in a query family start from the same
  * expensive derived artifact — the hashed-featurizer corpus frame, the
  * BPE merge chain — and before r15 each re-derived it from scratch.
  * One entry per (session identity, caller key); entries die with the
  * SparkContext (checkpointed RDDs are context-owned), and a fresh
  * session keys fresh entries, so a stale frame can never leak across
  * contexts. Sharing is sound exactly BECAUSE the builds are
  * deterministic: every consumer would have derived a bit-identical
  * artifact, so oracle parity is unchanged by construction. At corpus
  * scale this is the materialize-once discipline every real pipeline
  * runs (the vector-store build, the tokenizer-training job) — consumers
  * read the artifact, they don't re-train it. */
private[queries] final class SessionMemo[A] {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, A]()

  /** Memoized build. NOT computeIfAbsent: a make closure that touches
    * another memoized artifact (hashKnn's vector base builds from the
    * shared sparse frame) would nest updates of the same map, which the
    * JDK forbids and detects intermittently (IllegalStateException
    * "Recursive update" whenever the two keys share a bin). get →
    * build → putIfAbsent instead; a racing double-build is benign
    * (deterministic artifact, the loser's frame is dropped). The
    * context key is (applicationId, startTime) — unique per
    * SparkContext, unlike an identity hash — and entries from any
    * OTHER context are evicted on the way in: this process runs one
    * context at a time (local mode), a dead context's checkpointed
    * RDDs died with it, and the eviction is what bounds the map when a
    * harness cycles contexts (`graft.Profile time`'s fresh-session
    * rounds). */
  def apply(s: SparkSession, key: String)(make: => A): A = {
    val ctx = s.sparkContext.applicationId + ":" +
      s.sparkContext.startTime + ":"
    val it = m.keySet.iterator
    while (it.hasNext) { if (!it.next().startsWith(ctx)) it.remove() }
    val k = ctx + key
    val cur = m.get(k)
    if (cur != null) cur
    else {
      val v = make
      val prev = m.putIfAbsent(k, v)
      if (prev != null) prev else v
    }
  }
}
