package graft.queries

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Shared decimal-compaction helpers for the q1-family exact-money sums
  * (the two-level compact aggregate documented at the `q1_pricing_summary`
  * registry entry). Hoisted here (r15 ADVICE) so the registry query and
  * the Q1Probe ladder (a scratch probe main, now in git history) ran ONE
  * definition instead of diverging copies. */
object Decimals {

  /** Per-row unscaled DECIMAL(·,8) long of a double: BigDecimal.valueOf is
    * Double.toString (shortest decimal repr — the exact code path Spark's
    * double→decimal cast runs), setScale(8, HALF_UP), unscaled long.
    *
    * CEILING: longValueExact throws ArithmeticException for |x| > ~9.2e10
    * (Long.MaxValue / 1e8) — a loud per-row failure, never a silent null.
    * Callers summing the hi/lo split must also respect their own partial
    * bounds (documented at the q1 registry entry). */
  val unscaled8: UserDefinedFunction = udf { (x: Double) =>
    java.math.BigDecimal.valueOf(x)
      .setScale(8, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }

  /** [[unscaled8]] of `price * (1 - disc)` with the q1 compact path's
    * DOMAIN GUARDS (r15 ADVICE: the DECIMAL(8,2) casts silently null at
    * |v| ≥ 1e6 — a violation must fail loudly, the DriverProbe posture):
    * requires 0 ≤ price < 1e6, 0 ≤ qty < 1e6 (qty rides along purely for
    * the guard — it feeds the sibling (8,2) cast in the same aggregate)
    * and 0 ≤ disc ≤ 1 (the hi/lo `div`/`%` split assumes a non-negative
    * k). The product is computed inside the UDF — IEEE double multiply,
    * bit-identical to the codegen'd column expression it replaces. */
  val q1Unscaled8: UserDefinedFunction =
    udf { (price: Double, qty: Double, disc: Double) =>
      require(price >= 0 && price < 1e6,
        s"l_extendedprice $price outside the compact q1 DECIMAL(8,2) domain [0, 1e6)")
      require(qty >= 0 && qty < 1e6,
        s"l_quantity $qty outside the compact q1 DECIMAL(8,2) domain [0, 1e6)")
      require(disc >= 0 && disc <= 1, s"l_discount $disc outside [0, 1]")
      java.math.BigDecimal.valueOf(price * (1.0 - disc))
        .setScale(8, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    }
}
