package graft.ml

import org.apache.spark.ml.classification.GBTClassificationModel

/** Exact TreeSHAP over Spark ML tree ensembles.
  *
  * Implements the polynomial-time SHAP-value algorithm for trees
  * (Lundberg, Erion & Lee 2018, "Consistent Individualized Feature
  * Attribution for Tree Ensembles", Algorithm 2), marginalising absent
  * features by per-node training covers — the same semantics as the
  * shap library's TreeExplainer the reference runs driver-side over a
  * pandas pivot (reference: src/gentropy/dataset/l2g_prediction.py:146-306).
  * Here the flattened ensemble (a few KB of arrays) ships inside the
  * task closure and every row is explained where it lives — no driver
  * materialisation, the shape that survives a billion-row matrix.
  *
  * Attributions satisfy the efficiency property exactly:
  * `expectedValue + Σ_i phi(i) == margin(x)` for every row (pinned by
  * unit against brute-force Shapley enumeration).
  */
object TreeShap {

  /** One flattened regression tree; `feature(i) == -1` marks a leaf. */
  final case class ShapTree(left: Array[Int], right: Array[Int],
      feature: Array[Int], threshold: Array[Double], value: Array[Double],
      cover: Array[Double], weight: Double) extends Serializable {

    def predict(x: Array[Double]): Double = {
      var i = 0
      while (feature(i) >= 0)
        i = if (x(feature(i)) <= threshold(i)) left(i) else right(i)
      value(i)
    }

    /** Cover-weighted mean leaf value = E[tree] over training data. */
    lazy val expectedValue: Double = {
      def go(i: Int): Double =
        if (feature(i) < 0) value(i)
        else (cover(left(i)) * go(left(i)) + cover(right(i)) * go(right(i))) /
          cover(i)
      go(0)
    }

    def maxDepth: Int = {
      def go(i: Int): Int =
        if (feature(i) < 0) 1
        else 1 + math.max(go(left(i)), go(right(i)))
      go(0)
    }
  }

  /** Flatten a fitted GBT: trees scaled by their boosting weights.
    * `margin(x) = Σ weight_m · tree_m(x)`; Spark's binary GBT maps it
    * to probability via `p = 1 / (1 + exp(-2·margin))`, so the
    * log-odds (the scale the shap library reports for sklearn GBTs)
    * is `2·margin`. */
  def flatten(model: GBTClassificationModel): Array[ShapTree] =
    model.trees.zip(model.treeWeights).map { case (t, w) =>
      val (l, r, f, thr, v, c) =
        org.apache.spark.ml.tree.graft.TreeBridge.flatten(t.rootNode)
      ShapTree(l, r, f, thr, v, c, w)
    }

  /** Ensemble expected margin (the SHAP base value). */
  def expectedMargin(trees: Array[ShapTree]): Double =
    trees.iterator.map(t => t.weight * t.expectedValue).sum

  // ------------------------------------------------------------------ //
  // Algorithm 2: EXTEND / UNWIND over the unique-feature path          //
  // ------------------------------------------------------------------ //

  /** Mutable path of unique features; parallel arrays, 0-indexed. */
  private final class Path(cap: Int) {
    val d = new Array[Int](cap) // feature of the split that put it here
    val z = new Array[Double](cap) // fraction of zero (absent) paths
    val o = new Array[Double](cap) // fraction of one (present) paths
    val w = new Array[Double](cap) // permutation weight
    var len = 0

    def copy(): Path = {
      val p = new Path(cap)
      System.arraycopy(d, 0, p.d, 0, len)
      System.arraycopy(z, 0, p.z, 0, len)
      System.arraycopy(o, 0, p.o, 0, len)
      System.arraycopy(w, 0, p.w, 0, len)
      p.len = len
      p
    }

    def extend(pz: Double, po: Double, pi: Int): Unit = {
      val l = len
      d(l) = pi; z(l) = pz; o(l) = po; w(l) = if (l == 0) 1.0 else 0.0
      var j = l - 1
      while (j >= 0) {
        w(j + 1) += po * w(j) * (j + 1) / (l + 1)
        w(j) = pz * w(j) * (l - j) / (l + 1)
        j -= 1
      }
      len = l + 1
    }

    /** Remove element `idx`, redistributing its weight. */
    def unwind(idx: Int): Unit = {
      val l = len
      var n = w(l - 1)
      var j = l - 2
      if (o(idx) != 0.0) {
        while (j >= 0) {
          val t = w(j)
          w(j) = n * l / ((j + 1) * o(idx))
          n = t - w(j) * z(idx) * (l - 1 - j) / l
          j -= 1
        }
      } else {
        while (j >= 0) {
          w(j) = w(j) * l / (z(idx) * (l - 1 - j))
          j -= 1
        }
      }
      var k = idx
      while (k < l - 1) {
        d(k) = d(k + 1); z(k) = z(k + 1); o(k) = o(k + 1)
        k += 1
      }
      len = l - 1
    }

    /** Σ of the weights UNWIND(idx) would produce, non-destructively. */
    def unwoundSum(idx: Int): Double = {
      val l = len
      var total = 0.0
      if (o(idx) != 0.0) {
        var n = w(l - 1)
        var j = l - 2
        while (j >= 0) {
          val t = n * l / ((j + 1) * o(idx))
          total += t
          n = w(j) - t * z(idx) * (l - 1 - j) / l
          j -= 1
        }
      } else {
        var j = l - 2
        while (j >= 0) {
          total += w(j) * l / (z(idx) * (l - 1 - j))
          j -= 1
        }
      }
      total
    }

    def findFirst(f: Int): Int = {
      var i = 1 // element 0 is the root sentinel, feature -1
      while (i < len && d(i) != f) i += 1
      if (i < len) i else -1
    }
  }

  /** SHAP values of one tree for one row, accumulated into `phi`
    * (margin units, scaled by the tree's boosting weight). */
  private def treeShap(t: ShapTree, x: Array[Double],
                       phi: Array[Double]): Unit = {
    val cap = t.maxDepth + 2

    def recurse(j: Int, parent: Path, pz: Double, po: Double, pi: Int): Unit = {
      val m = parent.copy()
      m.extend(pz, po, pi)
      if (t.feature(j) < 0) {
        var i = 1
        while (i < m.len) {
          phi(m.d(i)) += m.unwoundSum(i) * (m.o(i) - m.z(i)) *
            t.value(j) * t.weight
          i += 1
        }
      } else {
        val f = t.feature(j)
        val (hot, cold) =
          if (x(f) <= t.threshold(j)) (t.left(j), t.right(j))
          else (t.right(j), t.left(j))
        var iz = 1.0
        var io = 1.0
        val k = m.findFirst(f)
        if (k >= 0) {
          iz = m.z(k); io = m.o(k)
          m.unwind(k)
        }
        recurse(hot, m, iz * t.cover(hot) / t.cover(j), io, f)
        recurse(cold, m, iz * t.cover(cold) / t.cover(j), 0.0, f)
      }
    }
    recurse(0, new Path(cap), 1.0, 1.0, -1)
  }

  /** SHAP values for one row across the ensemble, in margin units;
    * `expectedMargin(trees) + Σ shap == margin(x)` exactly. */
  def shapValues(trees: Array[ShapTree], x: Array[Double],
                 numFeatures: Int): Array[Double] = {
    val phi = new Array[Double](numFeatures)
    var m = 0
    while (m < trees.length) {
      treeShap(trees(m), x, phi)
      m += 1
    }
    phi
  }
}
