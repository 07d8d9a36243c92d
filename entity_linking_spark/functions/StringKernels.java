// Kernels that run inside the JVM as Spark UDFs: two string-similarity
// measures and a union-find labelling of connected components.
//
// Compiled at run time by Janino (org.codehaus.janino.SimpleCompiler, the
// compiler Spark uses for whole-stage codegen), so the source is written in
// the subset Janino accepts: no generics and no lambdas.
//
// The string measures work on code points (String.codePoints()), so a
// character outside the BMP counts once, as it does in Python and DuckDB. A
// null input reads as "" and the result is never null. Each follows its
// Python reference (tests/similarity_reference.py) step for step, including
// the order of the double arithmetic, so the two agree bit for bit.

package entity_linking_spark.functions;

import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF2;

public class StringKernels {

    static int[] codePoints(Object s) {
        return s == null ? new int[0] : ((String) s).codePoints().toArray();
    }

    // Jaro similarity as DuckDB's jaro_winkler_similarity computes it:
    // 0.0 when either side is empty (even for two empty strings).
    static double jaro(int[] a, int[] b) {
        int la = a.length;
        int lb = b.length;
        if (la == 0 || lb == 0) {
            return 0.0;
        }
        int window = Math.max(la, lb) / 2 - 1;
        if (window < 0) {
            window = 0;
        }
        boolean[] bTaken = new boolean[lb];
        int[] aMatches = new int[la];
        int m = 0;
        for (int i = 0; i < la; i++) {
            int lo = i - window > 0 ? i - window : 0;
            int hi = i + window + 1 < lb ? i + window + 1 : lb;
            for (int j = lo; j < hi; j++) {
                if (!bTaken[j] && b[j] == a[i]) {
                    bTaken[j] = true;
                    aMatches[m] = a[i];
                    m++;
                    break;
                }
            }
        }
        if (m == 0) {
            return 0.0;
        }
        int half = 0;
        int k = 0;
        for (int j = 0; j < lb; j++) {
            if (bTaken[j]) {
                if (aMatches[k] != b[j]) {
                    half++;
                }
                k++;
            }
        }
        int t = half / 2;
        return ((double) m / la + (double) m / lb + (double) (m - t) / m) / 3.0;
    }

    // Jaro-Winkler: prefix weight 0.1, prefix cap 4, boost only above 0.7.
    public static class JaroWinkler implements UDF2 {
        public Object call(Object x, Object y) {
            int[] a = codePoints(x);
            int[] b = codePoints(y);
            double j = jaro(a, b);
            if (j <= 0.7) {
                return Double.valueOf(j);
            }
            int cap = Math.min(4, Math.min(a.length, b.length));
            int prefix = 0;
            while (prefix < cap && a[prefix] == b[prefix]) {
                prefix++;
            }
            return Double.valueOf(j + prefix * 0.1 * (1.0 - j));
        }
    }

    // python-Levenshtein's ratio (substitutions cost 2):
    // (lensum - indel) / lensum with indel = lensum - 2 * LCS.
    public static class LevRatioCost2 implements UDF2 {
        public Object call(Object x, Object y) {
            int[] a = codePoints(x);
            int[] b = codePoints(y);
            // equal sides (two empty strings included) are 1.0
            if (java.util.Arrays.equals(a, b)) {
                return Double.valueOf(1.0);
            }
            int la = a.length;
            int lb = b.length;
            int lensum = la + lb;
            if (la == 0 || lb == 0) {
                return Double.valueOf(0.0);
            }
            // LCS length, one DP row over b
            int[] prev = new int[lb + 1];
            int[] cur = new int[lb + 1];
            for (int i = 0; i < la; i++) {
                for (int j = 1; j <= lb; j++) {
                    int best = a[i] == b[j - 1] ? prev[j - 1] + 1 : prev[j];
                    cur[j] = Math.max(best, cur[j - 1]);
                }
                int[] swap = prev;
                prev = cur;
                cur = swap;
            }
            int lcs = prev[lb];
            return Double.valueOf((double) (lensum - (lensum - 2 * lcs)) / lensum);
        }
    }

    // Root of node i, halving the path on the way up.
    static int find(int[] parent, int i) {
        while (parent[i] != i) {
            parent[i] = parent[parent[i]];
            i = parent[i];
        }
        return i;
    }

    static long[] longs(Object seq) {
        scala.collection.Seq s = (scala.collection.Seq) seq;
        long[] out = new long[s.length()];
        scala.collection.Iterator it = s.iterator();
        for (int i = 0; i < out.length; i++) {
            out[i] = ((Long) it.next()).longValue();
        }
        return out;
    }

    // Connected components of an edge list: takes the edges' source and
    // destination ids as two arrays of equal length and returns one
    // (node, component) struct per distinct node, where component is the
    // smallest id in the node's component, compared as signed longs.
    public static class UnionFind implements UDF2 {
        public Object call(Object x, Object y) {
            long[] src = longs(x);
            long[] dst = longs(y);
            int m = src.length;
            // the distinct ids in ascending order; node i is ids[i]
            long[] ids = new long[2 * m];
            System.arraycopy(src, 0, ids, 0, m);
            System.arraycopy(dst, 0, ids, m, m);
            java.util.Arrays.sort(ids);
            int n = 0;
            for (int i = 0; i < ids.length; i++) {
                if (n == 0 || ids[i] != ids[n - 1]) {
                    ids[n] = ids[i];
                    n++;
                }
            }
            // every root is the smallest node of its tree, so a component's
            // root is its minimum id
            int[] parent = new int[n];
            for (int i = 0; i < n; i++) {
                parent[i] = i;
            }
            for (int e = 0; e < m; e++) {
                int a = find(parent, java.util.Arrays.binarySearch(ids, 0, n, src[e]));
                int b = find(parent, java.util.Arrays.binarySearch(ids, 0, n, dst[e]));
                if (a < b) {
                    parent[b] = a;
                } else if (b < a) {
                    parent[a] = b;
                }
            }
            Object[] out = new Object[n];
            for (int i = 0; i < n; i++) {
                out[i] = RowFactory.create(
                    new Object[] {Long.valueOf(ids[i]), Long.valueOf(ids[find(parent, i)])});
            }
            return out;
        }
    }
}
