/* Sequential local-moving visit loop: the compiled body of
 * kernels.local_moving, bit-identical to kernels._local_moving_py.
 *
 * The caller (kernels.py, through ctypes) does all setup in numpy: the
 * visit order (rng.permutation), the cluster weights, the member counts,
 * the ascending stack of unused cluster ids and the scratch arrays, all
 * sized to K = len(cluster_w).  This file only runs the visits, and
 * keeps the Python loop's floating-point order exactly:
 *
 *   - a CSR entry whose neighbour is the visited node (a self-loop) is
 *     skipped: it weighs the same on every candidate;
 *   - neighbour weights accumulate per cluster as acc[c] = 0.0 on first
 *     touch, then acc[c] + w, in CSR-slice order;
 *   - gain = acc[c] - w_j * cluster_w[c] * resolution2 (left to right);
 *   - the move goes to the lowest cluster id among the largest strictly
 *     positive gains — what the Python loop's ascending scan with a
 *     strict `>` picks.  Candidates are scanned here in first-touch
 *     order with the tie broken explicitly, which needs no sort;
 *   - no positive gain: pop the last entry of the unused stack.
 *
 * Build without -ffast-math or -march=native and with
 * -ffp-contract=off: a fused multiply-add changes the gains' rounding.
 *
 * Returns 1 if any node moved, 0 if none did, -1 if the unused stack
 * would over- or underflow.  With self-loops skipped the stack holds
 * exactly the empty cluster ids, and with K >= n one is always free, so
 * local_moving's setup never gets -1: the checks stay as bounds checks,
 * and the caller raises RuntimeError on -1.
 */
#include <stdint.h>

int lm_visit_loop(int64_t n, const int64_t *indptr, const int64_t *nbr,
                  const double *wgt, const double *node_w,
                  const int64_t *order, double resolution2, int64_t *cl,
                  double *cluster_w, int64_t *n_per, int64_t *unused,
                  int64_t n_unused, int64_t k_ids, double *acc,
                  int64_t *cand, uint8_t *seen)
{
    int64_t n_stable = 0, i = 0;
    int update = 0;
    while (n_stable < n) {
        int64_t j = order[i];
        int64_t cj = cl[j];
        double w_j = node_w[j];
        cluster_w[cj] -= w_j;
        n_per[cj] -= 1;
        if (n_per[cj] == 0) {
            if (n_unused == k_ids)
                return -1;
            unused[n_unused++] = cj;
        }

        int64_t best = -1;
        int64_t lo = indptr[j], hi = indptr[j + 1];
        if (hi > lo) {
            int64_t n_cand = 0;
            for (int64_t t = lo; t < hi; t++) {
                if (nbr[t] == j)
                    continue;
                int64_t c = cl[nbr[t]];
                if (!seen[c]) {
                    seen[c] = 1;
                    acc[c] = 0.0;
                    cand[n_cand++] = c;
                }
                acc[c] = acc[c] + wgt[t];
            }
            double best_gain = 0.0;
            for (int64_t u = 0; u < n_cand; u++) {
                int64_t c = cand[u];
                double g = acc[c] - w_j * cluster_w[c] * resolution2;
                if (g > best_gain || (g == best_gain && best >= 0 && c < best)) {
                    best_gain = g;
                    best = c;
                }
                seen[c] = 0;
            }
        }
        if (best < 0) {
            if (n_unused == 0)
                return -1;
            best = unused[--n_unused];
        }

        cluster_w[best] += w_j;
        n_per[best] += 1;
        if (best == cj) {
            n_stable += 1;
        } else {
            cl[j] = best;
            n_stable = 1;
            update = 1;
        }
        i = i < n - 1 ? i + 1 : 0;
    }
    return update;
}
