package graft.core

/** One labeled time series / embedding row — the canonical typed view of
  * the reference's (features, label) pair (`Team11-Project.py:187-188`).
  */
case class LabeledSeries(rowId: Long, series: Array[Double], label: Double)

/** KNN configuration (reference Models 1 & 2, `Team11-Project.py:119-476`,
  * `:480-580`).
  *
  * @param k                  neighbor count (reference sweeps 5..70; Model 2 fixes 1)
  * @param distance           "euclidean" | "sqdist" | "manhattan" | "dtw" | "fastdtw" | "cosine"
  * @param strategy           "auto" | "broadcast" | "cartesian"
  * @param excludeZeroDistance drop self-matches (reference `:176-177`,
  *                           `:357-358`); "zero" is in the metric's own
  *                           terms — for cosine the column is the
  *                           standard distance 1−similarity, so 0 means
  *                           same-direction, not same-vector (a scaled
  *                           copy of a test vector is also excluded)
  * @param radius             FastDTW radius (Python fastdtw default = 1)
  * @param band               Sakoe-Chiba band for exact DTW; -1 = unconstrained
  * @param trainPartitions    cartesian-strategy train-side repartition (reference `:186`)
  * @param testPartitions     cartesian-strategy test-side repartition (reference `:186`)
  * @param lbPruning          candidate pruning for dtw/fastdtw (the 100 TB
  *                           scale path: cheap per-pair ranking sketch,
  *                           exact kernel only on surviving candidates)
  * @param candidateFactor    candidates kept per test point = factor * k
  * @param pruneRanker        "paa" (default): rank candidates by Manhattan
  *                           distance between PAA sketches — O(n/coarsen)
  *                           per pair and tracks the DTW ordering closely
  *                           when the band is small relative to the
  *                           series length; "paa_dtw": banded DTW on the
  *                           sketches (FastDTW's coarse level as a
  *                           ranker) — warp-aware, for band/length ratios
  *                           where unwarped sketch distance misranks;
  *                           "lb_keogh": rank by the admissible LB_Keogh
  *                           bound — useful when the band is narrow
  *                           relative to the signal's autocorrelation
  *                           length, DEGENERATE (near-constant ~0) when
  *                           the band window spans the signal range, which
  *                           makes candidate selection arbitrary
  * @param coarsenFactor      PAA block size for the "paa"/"paa_dtw" rankers
  */
case class KnnParams(
    k: Int = 1,
    distance: String = "euclidean",
    strategy: String = "auto",
    excludeZeroDistance: Boolean = true,
    radius: Int = 1,
    band: Int = -1,
    trainPartitions: Int = 0,
    testPartitions: Int = 0,
    lbPruning: Boolean = false,
    candidateFactor: Int = 4,
    pruneRanker: String = "paa",
    coarsenFactor: Int = 8)
