package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered parts assembly (SURVEY A12 + W1, reference
  * `process_all.py:409-438,566-617`): per key, part filenames sorted
  * by their numeric sequence (natural order — part_10 after part_9)
  * and concatenated in that order, with the group's part count.
  *
  * Plan shape (r15, measured at sf0.1 — BASELINE.md's q38 entry):
  * ONE range exchange + partition-local (key, seq, fname) sort + a streaming
  * mapPartitions group-assemble. RangePartitioning on the key means
  * the in-partition sort doubles as both group clustering AND the
  * global output order — no second exchange; groups assemble in a
  * single forward pass with a StringBuilder (O(1) live state, no
  * per-group array). The hash-aggregate alternative
  * (collect_list(struct) → array_sort → array_join → orderBy) paid a
  * second exchange plus per-group array materialization and measured
  * 2.26× DuckDB. mapPartitions is justified per the SURVEY
  * preference order: the composition-of-builtins plans were measured
  * slower (BASELINE.md's q38 entry times all four shapes). At 1000
  * executors this is the shape of a sort-merge aggregation: one wide
  * exchange of narrow rows, then linear per-partition work.
  *
  * Output: (keyCol, n_parts, assembled), globally ordered by key by
  * construction. */
object OrderedConcat {

  def assemble(rows: DataFrame, keyCol: String = "l_orderkey",
               fnameCol: String = "fname", seqCol: String = "seq"): DataFrame = {
    import rows.sparkSession.implicits._
    // Explicit long/string casts (r18, advisor fix): the kernel
    // reads primitives positionally, so an int key or non-string
    // filename column must widen here, not ClassCastException there.
    val typed = rows.select(col(keyCol).cast("long").as(keyCol),
      col(fnameCol).cast("string").as(fnameCol), col(seqCol))
    val sorted = typed
      .repartitionByRange(col(keyCol))
      // (seq, fname) not just seq: deterministic tie order matches
      // array_sort's struct comparator if a name ever repeats a seq.
      .sortWithinPartitions(col(keyCol), col(seqCol), col(fnameCol))
      .select(col(keyCol), col(fnameCol))
    sorted.mapPartitions { it =>
      // Streaming ordered-group assembly: rows arrive clustered by
      // key and pre-sorted by seq, so each group folds into a reused
      // StringBuilder and emits when the key changes. Flag-based
      // group state — no per-row Option/tuple allocation (r18, the
      // q38 kernel note): live state is three primitives plus one
      // StringBuilder whose backing array is reused across groups
      // via setLength(0).
      new Iterator[(Long, Long, String)] {
        private val sb = new java.lang.StringBuilder(64)
        private var open = false
        private var curKey = 0L
        private var curN = 0L
        private var pendingSet = false
        private var pK = 0L; private var pN = 0L; private var pS: String = null
        private def roll(): Unit = {
          while (!pendingSet && it.hasNext) {
            val r = it.next()
            val k = r.getLong(0); val f = r.getString(1)
            if (open && curKey == k) {
              curN += 1; sb.append(',').append(f)
            } else {
              if (open) { pendingSet = true; pK = curKey; pN = curN; pS = sb.toString }
              sb.setLength(0); sb.append(f)
              curKey = k; curN = 1L; open = true
            }
          }
          if (!pendingSet && !it.hasNext && open) {
            pendingSet = true; pK = curKey; pN = curN; pS = sb.toString
            open = false
          }
        }
        def hasNext: Boolean = { roll(); pendingSet }
        def next(): (Long, Long, String) = {
          roll()
          if (!pendingSet) throw new NoSuchElementException("next on empty iterator")
          pendingSet = false
          (pK, pN, pS)
        }
      }
    }.toDF(keyCol, "n_parts", "assembled")
  }
}
