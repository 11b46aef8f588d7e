package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Frame statistics recomputed from a RAW value array — the boundary-row
  * arithmetic behind the global (no `partition_by`) forms of the rolling
  * moment/percentile derive fns ([[OrderedAtScale.RollGroup]]).
  *
  * Every function here replicates the corresponding Spark aggregate's
  * float arithmetic EXACTLY (verified bit-identical in
  * OrderedAtScaleSpec): the moment fold applies Spark's
  * `CentralMomentAgg` streaming updates one element at a time in frame
  * order, and the percentile interpolation is Spark `percentile`'s
  * `lower·(hi−pos) + upper·(pos−lo)` on the sorted multiset — so a
  * boundary row recomposed from (prior-bucket tail ++ own prefix) is
  * indistinguishable from the same row under a single global window.
  *
  * Empty/degenerate frames follow the ANSI-mode aggregate semantics the
  * engine runs under (probed, Spark 4.1): n=0 → NULL for everything;
  * n=1 → NULL for var/std; m2=0 → NULL for skew/kurtosis (non-ANSI
  * windowed Spark would yield NaN for the degenerate cases instead —
  * deviation documented here, matching DuckDB's NULL).
  */
object FrameStats {

  /** Poor-man's LET-binding: evaluate `v` once and reference it any number
    * of times in `f` through a higher-order-function lambda variable.
    * Catalyst has no let — every `getField` on an unnamed struct DUPLICATES
    * the entire subtree, so an extraction reading a moment-fold state 3–8
    * times re-executes the O(frame) fold 3–8 times PER ROW (and grows the
    * plan the same factor). Lambda variables are leaf references, so
    * `transform(array(v), f)[1]` evaluates `v` exactly once. Found by the
    * q169 bench: rolling_std_by's boundary expression was 49 s at sf0.1
    * before binding, ~1 s after. */
  def bind(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  /** Sequential central-moment state over `xs` (nulls skipped, like the
    * aggregates): struct(n, m, m2[, m3, m4]). `order` ∈ {2, 4} — 2 skips
    * the third/fourth-moment updates var/std never read. */
  def momentState(xs: Column, order: Int): Column = {
    require(order == 2 || order == 4, s"momentState order must be 2 or 4, got $order")
    val zero =
      if (order == 2) struct(lit(0.0).as("n"), lit(0.0).as("m"), lit(0.0).as("m2"))
      else struct(lit(0.0).as("n"), lit(0.0).as("m"), lit(0.0).as("m2"),
        lit(0.0).as("m3"), lit(0.0).as("m4"))
    aggregate(filter(xs, _.isNotNull), zero, (s, v) => {
      val x = v.cast("double")
      val n = s.getField("n") + lit(1.0)
      val delta = x - s.getField("m")
      val deltaN = delta / n
      val m = s.getField("m") + deltaN
      val m2 = s.getField("m2") + delta * (delta - deltaN)
      if (order == 2) struct(n.as("n"), m.as("m"), m2.as("m2"))
      else {
        val delta2 = delta * delta
        val deltaN2 = deltaN * deltaN
        val m3 = s.getField("m3") - lit(3.0) * deltaN * m2 + delta * (delta2 - deltaN2)
        val m4 = s.getField("m4") - lit(4.0) * deltaN * m3 - lit(6.0) * deltaN2 * m2 +
          delta * (delta * delta2 - deltaN * deltaN2)
        struct(n.as("n"), m.as("m"), m2.as("m2"), m3.as("m3"), m4.as("m4"))
      }
    })
  }

  def varSamp(st: Column): Column =
    when(st.getField("n") >= 2.0, st.getField("m2") / (st.getField("n") - 1.0))

  def stddevSamp(st: Column): Column =
    when(st.getField("n") >= 2.0, sqrt(st.getField("m2") / (st.getField("n") - 1.0)))

  def skewness(st: Column): Column = {
    val m2 = st.getField("m2")
    when(st.getField("n") >= 1.0 && m2 =!= 0.0,
      sqrt(st.getField("n")) * st.getField("m3") / sqrt(m2 * m2 * m2))
  }

  def kurtosis(st: Column): Column = {
    val m2 = st.getField("m2")
    when(st.getField("n") >= 1.0 && m2 =!= 0.0,
      st.getField("n") * st.getField("m4") / (m2 * m2) - lit(3.0))
  }

  /** Exact interpolated percentile of the non-null elements of `xs` —
    * Spark `percentile`'s arithmetic on the sorted multiset. The sorted
    * array is [[bind]]-bound: it is referenced five times below and would
    * otherwise be re-sorted five times per row. */
  def percentileExact(xs: Column, p: Double): Column = {
    require(p >= 0.0 && p <= 1.0, s"percentile p must be in [0,1], got $p")
    bind(sort_array(filter(xs, _.isNotNull))) { s =>
      val n = size(s)
      val pos = lit(p) * (n.cast("double") - 1.0)
      val lo = floor(pos).cast("int")
      val hi = ceil(pos).cast("int")
      val loV = element_at(s, lo + 1).cast("double")
      val hiV = element_at(s, hi + 1).cast("double")
      when(n === 0, lit(null).cast("double"))
        .when(lo === hi, loV)
        .otherwise(loV * (hi.cast("double") - pos) + hiV * (pos - lo.cast("double")))
    }
  }

  /** Chan et al. pairwise merge of two order-2 moment states (either may
    * have n = 0; `a` may be NULL — a missing prefix). Association differs
    * from the sequential scan, so values recomposed through this merge can
    * differ from the windowed form in the last ulp (same documented float
    * profile as the cum_sum prefix adds). */
  def chanMerge2(a: Column, b: Column): Column = {
    val an = coalesce(a.getField("n"), lit(0.0))
    val bn = coalesce(b.getField("n"), lit(0.0))
    val n = an + bn
    val delta = b.getField("m") - a.getField("m")
    val m = when(an === 0.0, b.getField("m"))
      .when(bn === 0.0, a.getField("m"))
      .otherwise(a.getField("m") + delta * bn / n)
    val m2 = when(an === 0.0, b.getField("m2"))
      .when(bn === 0.0, a.getField("m2"))
      .otherwise(a.getField("m2") + b.getField("m2") + delta * delta * an * bn / n)
    when(a.isNull, b).when(b.isNull, a)
      .otherwise(struct(n.as("n"), m.as("m"), m2.as("m2")))
  }
}
