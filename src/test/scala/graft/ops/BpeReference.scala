package graft.ops

import BpeOps.{codePointSyms, mergePairLocal, utf8Cmp}

/** The reference BPE trainer the specs judge the production regimes
  * against ([[BpeOps.bpeTrainLocalFast]] and [[BpeOps.bpeTrain]]). */
object BpeReference {

  /** Driver-side merge loop over a COLLECTED word histogram —
    * merge-for-merge identical to [[bpeTrain]] by construction: same
    * frequency-weighted adjacent-pair counts, same (count DESC, pair
    * ASC) tie-break, same greedy rewrite, same early stop. One process,
    * zero Spark jobs — the regime for every histogram that fits on the
    * driver (BPE state is vocabulary-sized, never corpus-sized).
    *
    * This is the SEMANTICS-OF-RECORD reference: it recounts the full
    * histogram every merge, O(depth × corpus symbols) — the round-14
    * price ladder measured that shape at 286.6 s for ~30k merges on a
    * 30k-word vocabulary. [[bpeTrainLocalFast]] is the production
    * regime (incremental pair maintenance, identical output, pinned by
    * parity specs at depth 1000); this loop stays as the oracle the
    * fast one is judged against.
    */
  def bpeTrainLocal(hist: Seq[(String, Long)],
                    nMerges: Int): Seq[(String, String)] = {
    // CODE-POINT split + UTF-8-byte tie-break: Spark's substring()
    // walks code points and its string sort is UTF8String byte order —
    // a UTF-16 charAt/compareTo local loop would diverge from the
    // distributed regime on supplementary-plane vocabulary.
    var words = hist.iterator
      .map { case (w, f) => (codePointSyms(w), f) }.toArray
    val merges = collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val counts = collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < words.length) {
        val (syms, f) = words(wi)
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
        wi += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        // (count DESC, a ASC, b ASC) — bpeTrain's orderBy, exactly
        val (a, b) = counts.iterator.reduce { (p, q) =>
          val ((pa, pb), pc) = p; val ((qa, qb), qc) = q
          val c =
            if (pc != qc) java.lang.Long.compare(qc, pc)
            else {
              val ca = utf8Cmp(pa, qa)
              if (ca != 0) ca else utf8Cmp(pb, qb)
            }
          if (c <= 0) p else q
        }._1
        merges += ((a, b))
        words = words.map { case (syms, f) =>
          (mergePairLocal(syms, a, b), f)
        }
      }
    }
    merges.toSeq
  }
}
