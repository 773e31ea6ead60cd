package graft.candidates;

import jdk.incubator.vector.IntVector;
import jdk.incubator.vector.ShortVector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD quantized-dot kernel (Panama vector API, incubator module shipped
 * with JDK 17) for the LSH/IVF scoring inner loop — the hottest frame of
 * the candidate stage (~70% of its CPU in E=50k stack samples, BENCH.md).
 *
 * EXACTNESS: pure integer arithmetic — the returned int is bit-identical
 * to the scalar loop's. Overflow cannot occur anywhere: inputs are
 * quantizations of L2-normalized vectors (LshTopK.quantize), so by
 * Cauchy-Schwarz ANY SUBSET of index products sums to at most
 * (32767 + sqrt(n)/2)^2 < 1.1e9 in absolute value — every per-lane
 * accumulator, every partial lane combination and the final reduction
 * are subset sums, all under half of Integer.MAX_VALUE. Gated against
 * the long-accumulated reference (incl. +-unit-spike worst cases) in
 * OperatorSpec.
 *
 * Loaded reflectively-by-effect: LshTopK probes it once and falls back
 * to the scalar loop if the incubator module is absent at runtime.
 */
public final class DotSimd {

    private DotSimd() {}

    /** Vector-typed state lives in a nested holder so this class's own
     * API surface (primitive-only signatures) never forces a tool JVM
     * without the incubator module to resolve vector classes. */
    private static final class Impl {
        private static final VectorSpecies<Short> SS = ShortVector.SPECIES_PREFERRED;
        @SuppressWarnings("unchecked")
        private static final VectorSpecies<Integer> IS =
            (VectorSpecies<Integer>) SS.withLanes(int.class);

        static int dot(short[] a, short[] b) {
            int n = a.length;
            int upper = SS.loopBound(n);
            IntVector acc0 = IntVector.zero(IS);
            IntVector acc1 = IntVector.zero(IS);
            int i = 0;
            for (; i < upper; i += SS.length()) {
                ShortVector va = ShortVector.fromArray(SS, a, i);
                ShortVector vb = ShortVector.fromArray(SS, b, i);
                IntVector a0 = (IntVector) va.convertShape(VectorOperators.S2I, IS, 0);
                IntVector b0 = (IntVector) vb.convertShape(VectorOperators.S2I, IS, 0);
                IntVector a1 = (IntVector) va.convertShape(VectorOperators.S2I, IS, 1);
                IntVector b1 = (IntVector) vb.convertShape(VectorOperators.S2I, IS, 1);
                acc0 = acc0.add(a0.mul(b0));
                acc1 = acc1.add(a1.mul(b1));
            }
            // subset sums throughout: int-exact (class doc)
            int s = acc0.add(acc1).reduceLanes(VectorOperators.ADD);
            for (; i < n; i++) s += a[i] * b[i];
            return s;
        }
    }

    public static int dotQInt(short[] a, short[] b) {
        return Impl.dot(a, b);
    }
}
