package sbspark;

import org.apache.spark.sql.api.java.UDF2;
import scala.collection.Iterator;
import scala.collection.Seq;

/**
 * sb_dot(a, b) -> double: compiled left-fold dot product, bit-exact
 * twin of the Catalyst chain in tests/oracles/vec.py
 * (aggregate(zip_with(a, b, x*y), 0.0, acc+v) — higher-order
 * expressions are CodegenFallback-interpreted, so the per-element fold
 * dominated the brute-force/IVF walls). Same IEEE evaluation order
 * (multiply each pair, then accumulate left-to-right — javac/JIT may
 * not fuse into FMA, per JLS 15.17.1), and the same null algebra:
 * null array, any null element, or a length mismatch (zip_with pads
 * the shorter side with null) folds to null; two empty arrays fold to
 * the 0.0 init.
 *
 * Elements arrive as boxed Number (registerJavaFunction declares no
 * input types): array&lt;double&gt; boxes Double, an uncast
 * array&lt;float&gt; boxes Float and is WIDENED per element — slightly
 * more precise than the Catalyst fold's float-precision multiply,
 * so callers wanting bit-identical floats across the two should cast to
 * array&lt;double&gt; first, as every in-repo caller does.
 */
public class DotUdf implements UDF2<Seq<Number>, Seq<Number>, Double> {
  @Override
  public Double call(Seq<Number> a, Seq<Number> b) {
    if (a == null || b == null || a.length() != b.length()) return null;
    double acc = 0.0;
    Iterator<Number> ia = a.iterator();
    Iterator<Number> ib = b.iterator();
    while (ia.hasNext()) {
      Number x = ia.next();
      Number y = ib.next();
      if (x == null || y == null) return null;
      acc = acc + x.doubleValue() * y.doubleValue();
    }
    return acc;
  }
}
