"""Data-quality audit, skew, and join-pre-flight diagnostics (DQ1-DQ3).

The two pre-flight checks a 100 TB feature pipeline runs before
committing compute: does the input satisfy its contract (DQ1), and will
its key distribution melt a shuffle (DQ2)? Both are built like every
operator in this engine — exact integer arithmetic so a SQL oracle
grades them bitwise, and single-pass distributed plans that survive a
1000-executor fan-out.

- DQ1 :func:`check_constraints` — a Deequ-style declarative constraint
  audit compiled into ONE ``Aggregate`` over the table: every constraint
  becomes a conditional ``sum`` (map-side partial agg, so the pass is
  one scan + one 1-row exchange no matter how many constraints run).
  :func:`unique` constraints additionally need a ``count_distinct`` over
  the injective netstring row fingerprint (sources/partitioned.py
  convention); ONE of them Spark plans as a fingerprint-keyed partial
  pre-aggregate (a narrow ~32 B/row exchange), but k ≥ 2 distinct
  aggregates force an ``Expand`` that replicates scan rows k+1 ways —
  the cost note is explicit in :func:`unique`'s docstring rather than
  discovered in production.
- DQ2 :func:`skew_profile` — per-key load histogram for shuffle
  planning: the top-N heaviest keys with exact basis-point share and a
  recommended salt fan-out per key, sized so each salted slice carries
  at most one average partition's rows. One ``groupBy`` (partial-agg
  shuffle on the key), a 1-row totals aggregate broadcast back, and a
  ``TakeOrderedAndProject`` for the top-N — the full key histogram is
  never collected or globally sorted. This is the measurement half of
  the salted as-of window plan (operators/asof.py): profile first, salt
  the keys the profile flags.

Reference parity: ProFET has no input validation or skew handling
(single-process loop over a FASTA file — [R] FeatureGen.py ≈L1040-1100
``fileToFeatures`` assumes well-formed input); these are the
task-mandated scale additions (SURVEY.md §2 'NEW' tier).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "Constraint", "not_null", "in_range", "in_set", "matches", "unique",
    "satisfies", "check_constraints", "skew_profile", "join_preflight",
]


@dataclass(frozen=True)
class Constraint:
    """One declarative row contract. ``kind='violation'`` carries a
    boolean expression that is True for a violating row; ``kind='unique'``
    carries the key column list and is counted as
    ``rows - count_distinct(fingerprint(cols))`` (the number of surplus
    duplicate rows)."""

    name: str
    column: str
    kind: str                      # 'violation' | 'unique'
    expr: Column | None = None     # kind='violation'
    cols: tuple[str, ...] = ()     # kind='unique'


def not_null(col: str) -> Constraint:
    """Violated by NULL in ``col``."""
    return Constraint(f"not_null({col})", col, "violation",
                      F.col(col).isNull())


def in_range(col: str, lo, hi) -> Constraint:
    """Violated by a non-NULL value outside ``[lo, hi]`` (closed both
    ends). NULL does not violate — that is :func:`not_null`'s job, so
    the two constraints compose without double-counting."""
    c = F.col(col)
    return Constraint(f"in_range({col},{lo},{hi})", col, "violation",
                      c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi))))


def in_set(col: str, values) -> Constraint:
    """Violated by a non-NULL value outside ``values``."""
    c = F.col(col)
    vals = list(values)
    return Constraint(f"in_set({col})", col, "violation",
                      c.isNotNull() & ~c.isin(vals))


def matches(col: str, pattern: str) -> Constraint:
    """Violated by a non-NULL value not matching ``pattern``
    (``rlike`` — an unanchored find, Java regex). Keep patterns in the
    Java/RE2/PCRE common subset if the audit must also grade through a
    non-JVM oracle (no lookbehind, no possessive quantifiers; see the
    whitespace-class note in functions/textstats.py)."""
    c = F.col(col)
    return Constraint(f"matches({col},{pattern})", col, "violation",
                      c.isNotNull() & ~c.rlike(pattern))


def unique(*cols: str) -> Constraint:
    """Violated by surplus duplicates of the ``cols`` tuple:
    ``violations = rows - count_distinct(fingerprint)`` (0 iff every
    tuple is distinct). The fingerprint is the injective netstring form
    (NULL is a value, distinct from every string — two all-NULL keys DO
    collide with each other, matching IS NOT DISTINCT FROM semantics).

    Cost note: ONE ``unique`` per audit is the 100 TB-friendly shape —
    Spark plans a single distinct aggregate as a fingerprint-keyed
    pre-aggregate (one narrow exchange carrying only the 128-bit md5,
    plan-pinned in tests/test_quality.py), but two or more distinct
    aggregates in the same pass force an ``Expand`` that replicates
    every scan row k+1 times. Check several key candidates in separate
    passes, not one."""
    if not cols:
        raise ValueError("unique: at least one column required")
    return Constraint(f"unique({','.join(cols)})", ",".join(cols),
                      "unique", None, tuple(cols))


def satisfies(predicate: Column | str, name: str) -> Constraint:
    """Violated when ``predicate`` is FALSE **or NULL** (a contract the
    data cannot evaluate is a broken contract — Deequ's convention).
    Pass a Column or a SQL expression string."""
    p = F.expr(predicate) if isinstance(predicate, str) else predicate
    return Constraint(f"satisfies({name})", "", "violation",
                      ~F.coalesce(p, F.lit(False)))


def _fingerprint(cols: tuple[str, ...]) -> Column:
    """Injective netstring-md5 fingerprint (the sources/partitioned.py
    S11 convention: ``n`` for NULL, ``v<len>:<str-cast>`` otherwise)."""
    pieces = []
    for c in cols:
        s = F.col(c).cast("string")
        pieces.append(
            F.when(s.isNull(), F.lit("n"))
            .otherwise(F.concat(F.lit("v"), F.length(s), F.lit(":"), s)))
    return F.md5(F.concat(*pieces))


def check_constraints(df: DataFrame, constraints: list[Constraint],
                      ) -> DataFrame:
    """DQ1: audit ``df`` against ``constraints`` in ONE aggregate pass.

    Returns one row per constraint:
    ``(idx int, constraint_name string, column string, rows bigint,
    violations bigint, passed boolean)`` — ``rows`` is the full table
    count (identical on every row), ``violations`` the exact violating
    row count (for ``unique``: surplus duplicate rows).

    Plan shape: one scan → partial conditional sums per partition → a
    single 1-row final aggregate → a constant-size explode into the long
    format. Nothing data-sized crosses an exchange; adding constraints
    adds map-side expressions, not passes. ``unique`` constraints add
    distinct aggregates (Expand — see :func:`unique`'s cost note).
    """
    if not constraints:
        raise ValueError("check_constraints: empty constraint list")
    names = [c.name for c in constraints]
    if len(set(names)) != len(names):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(
            f"check_constraints: duplicate constraint names {dupes} — "
            "results would be indistinguishable in the report")
    missing = sorted(
        {c for k in constraints for c in ((k.column,) if k.kind == "violation"
                                          and k.column else k.cols)}
        - set(df.columns))
    if missing:
        raise ValueError(
            f"check_constraints: column(s) {missing} not in the table "
            f"(have {sorted(df.columns)})")

    aggs = [F.count(F.lit(1)).alias("__dq_rows")]
    for i, k in enumerate(constraints):
        if k.kind == "violation":
            aggs.append(F.sum(k.expr.cast("bigint")).alias(f"__dq_v{i}"))
        else:
            aggs.append(
                F.count_distinct(_fingerprint(k.cols)).alias(f"__dq_v{i}"))
    one = df.agg(*aggs)

    reports = []
    for i, k in enumerate(constraints):
        viol = (F.coalesce(F.col(f"__dq_v{i}"), F.lit(0))
                if k.kind == "violation"
                else F.col("__dq_rows") - F.col(f"__dq_v{i}"))
        reports.append(F.struct(
            F.lit(i).cast("int").alias("idx"),
            F.lit(k.name).alias("constraint_name"),
            F.lit(k.column).alias("column"),
            viol.cast("bigint").alias("violations")))
    return (one.select(F.col("__dq_rows").alias("rows"),
                       F.explode(F.array(*reports)).alias("c"))
            .select("c.idx", "c.constraint_name", "c.column",
                    F.col("rows").cast("bigint").alias("rows"),
                    "c.violations",
                    (F.col("c.violations") == 0).alias("passed")))


def skew_profile(df: DataFrame, key_cols: list[str] | str, top_n: int = 20,
                 num_partitions: int = 200) -> DataFrame:
    """DQ2: the shuffle-planning skew histogram — the top ``top_n``
    heaviest keys of ``key_cols`` with exact load metrics:

    - ``cnt`` — the key's row count;
    - ``share_bp`` — exact basis points of the table,
      ``cnt*10000 DIV total`` (integer division: bitwise across engines,
      no float share);
    - ``salt`` — recommended salt fan-out for this key,
      ``ceil(cnt * num_partitions / total)`` as pure integer arithmetic
      ``(cnt*P + total - 1) DIV total``: the number of salted sub-keys
      needed so each slice carries at most one average partition's rows
      (1 = unskewed, leave it alone). This is the measured input to
      operators/asof.py's salted window plan and to AQE's skew-join
      threshold tuning.
    - ``rank`` — 1-based by ``(cnt DESC, key ASC)`` (deterministic
      tiebreak).

    Plan shape: ONE partial-agg shuffle on the key (`groupBy.count`), a
    1-row totals aggregate joined back by broadcast, and a global top-N
    via ``TakeOrderedAndProject`` (per-partition heaps, only N rows to
    the driver stage) — the key histogram is never globally sorted or
    collected, so a billion-key table profiles in one narrow pass. The
    top-N rank window runs over ≤ ``top_n`` rows (explicit dummy
    partition key, so no single-partition WindowExec warning at scale).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if not keys:
        raise ValueError("skew_profile: key_cols must be non-empty")
    if top_n < 1 or num_partitions < 1:
        raise ValueError("skew_profile: top_n and num_partitions must "
                         "be >= 1")
    from pyspark.sql.window import Window

    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(F.sum("cnt").alias("__dq_tot"))
    order = [F.col("cnt").desc()] + [F.col(k).asc() for k in keys]
    top = counts.orderBy(*order).limit(top_n)
    # rank over the ≤ top_n surviving rows; pmod(cnt, 1) == 0 always but
    # is not constant-folded out, so WindowExec keeps a partition key
    w = (Window.partitionBy(F.pmod(F.col("cnt"), F.lit(1)))
         .orderBy(*order))
    p = F.lit(num_partitions).cast("bigint")
    return (top.join(F.broadcast(totals))
            .select(
                F.row_number().over(w).cast("bigint").alias("rank"),
                *keys,
                "cnt",
                F.expr("cnt * 10000 DIV __dq_tot").alias("share_bp"),
                ((F.col("cnt") * p + F.col("__dq_tot") - 1)
                 .cast("bigint")).alias("__dq_num"),
                F.col("__dq_tot"))
            .withColumn("salt", F.expr("__dq_num DIV __dq_tot"))
            .drop("__dq_num", "__dq_tot"))


def join_preflight(left: DataFrame, right: DataFrame,
                   left_on: str, right_on: str | None = None,
                   top_n: int = 10, lgk: int = 12) -> DataFrame:
    """DQ3 — the pre-flight an expensive equi-join runs BEFORE
    committing its shuffle: how big is each side, how many distinct
    keys, how many keys actually match, and which hot key pairs will
    dominate the output? Two tiers, both narrow:

    - **Sketch tier** (parts ``left`` / ``right`` / ``overlap``): per-side
      row counts + theta distinct-key sketches aggregated map-side (the
      exchange carries ONE sketch row per side, never keys), then
      ``theta_intersection`` / ``theta_difference`` for matched /
      left-only / right-only distinct-key counts. Exact while each
      side's key cardinality stays ≤ 2^lgk (operators/sketches.py
      exactness contract); approximate with ~1/sqrt(2^lgk) relative
      error beyond — either way the join's full key set never shuffles.
      An empty ``overlap`` is the cheapest possible proof a planned
      join is vacuous.
    - **Hot tier** (parts ``hot``): the DQ2-style top-``top_n`` heaviest
      keys of EACH side (TakeOrderedAndProject, one narrow partial-agg
      shuffle per side), inner-joined on the key: for every key hot on
      BOTH sides, ``cnt_l * cnt_r`` is the exact number of output rows
      that single key will emit — the worst-case skew contributions AQE
      skew-join thresholds and salting (operators/asof.py) need sizing
      against. Exact integers at any scale.

    Output (part, key, i1, i2, i3):
    ``('left', '', n_rows, n_distinct_keys, -1)``, same for 'right';
    ``('overlap', '', matched, left_only, right_only)`` distinct keys;
    ``('hot', key_str, cnt_l, cnt_r, cnt_l*cnt_r)`` per doubly-hot key.
    NULL keys are excluded everywhere (they never match an equi-join).
    """
    right_on = right_on or left_on
    if top_n < 1:
        raise ValueError("join_preflight: top_n must be >= 1")
    lk = (left.select(F.col(left_on).alias("k"))
          .where(F.col("k").isNotNull()))
    rk = (right.select(F.col(right_on).alias("k"))
          .where(F.col("k").isNotNull()))

    def _side(kdf: DataFrame, tag: str) -> DataFrame:
        return (kdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.theta_sketch_agg("k", F.lit(lgk)).alias("sk"))
            .select(F.lit(tag).alias("part"), F.lit("").alias("key"),
                    F.col("n").cast("bigint").alias("i1"),
                    F.theta_sketch_estimate("sk").alias("i2"),
                    F.lit(-1).cast("bigint").alias("i3"), "sk"))

    ls, rs = _side(lk, "left"), _side(rk, "right")
    overlap = (ls.select(F.col("sk").alias("ska"))
               .join(rs.select(F.col("sk").alias("skb")))
               .select(
                   F.lit("overlap").alias("part"), F.lit("").alias("key"),
                   F.theta_sketch_estimate(
                       F.theta_intersection("ska", "skb")).alias("i1"),
                   F.theta_sketch_estimate(
                       F.theta_difference("ska", "skb")).alias("i2"),
                   F.theta_sketch_estimate(
                       F.theta_difference("skb", "ska")).alias("i3")))

    lt = (skew_profile(lk, "k", top_n=top_n)
          .select(F.col("k"), F.col("cnt").alias("cnt_l")))
    rt = (skew_profile(rk, "k", top_n=top_n)
          .select(F.col("k"), F.col("cnt").alias("cnt_r")))
    hot = (lt.join(rt, "k")
           .select(F.lit("hot").alias("part"),
                   F.col("k").cast("string").alias("key"),
                   F.col("cnt_l").alias("i1"), F.col("cnt_r").alias("i2"),
                   (F.col("cnt_l") * F.col("cnt_r")).alias("i3")))
    return (ls.drop("sk").unionByName(rs.drop("sk"))
            .unionByName(overlap).unionByName(hot))
