"""Mechanical scale-shape audit: build every registered BATCH query's
physical plan without executing it and flag the two unambiguous
scale-killers —
``CartesianProduct`` (an unbroadcast cross join materializing |A|x|B|)
and ``BatchEvalPython`` (row-at-a-time Python UDF eval; all sanctioned
Python stages are Arrow-batched: ArrowEvalPython / FlatMapGroupsInPandas
/ MapInPandas / FlatMapCoGroupsInPandas / ...InPandasWithState).

Streaming-wrapped queries (``stream_*``) run full availableNow jobs and
write staging/checkpoint dirs inside their plan functions, so a
"mechanical" audit would do real work and mutate /tmp state (ADVICE r7).
They are SKIPPED by default and recorded as such; pass ``--run-streaming``
to execute them deliberately (e.g. the once-per-round fingerprint refresh,
where their batch-result plan is worth the micro-batch run).

``BroadcastNestedLoopJoin`` is NOT flagged: every occurrence in this repo
is a broadcast of a literal/aggregate-sized grid (strategy combos, probe
grids, scalar counts) — e.g. sell_decisions' (holding, return, stop)
combos — but it is COUNTED so a new corpus-sized one shows up in review.

Nested folds: a HOF lambda whose body contains another ``aggregate(`` /
``reduce(`` re-runs that fold per ELEMENT (interpreted HOFs have no
common-subexpression elimination across lambda invocations) — n-squared
per row and per output column; the shape that cost ``bollinger_bands``
27.4 s before fold staging (r9, commit a9dc780). Flagged unless the query
is in ``NESTED_FOLD_OK`` with a justification.

Decimal readouts: any query whose OUTPUT schema contains a DecimalType
column is flagged unless allowlisted in ``DECIMAL_READOUT_OK`` — the r9
driver hash-mismatch class (exact decimal math belongs INSIDE the plan;
readout columns flatten to double/long/string on both engines).

Plan size: any plan whose EXECUTABLE node count (AQE-unwrapped, truncated
at InMemoryTableScan) exceeds ``PLAN_NODE_BUDGET`` is flagged — the
many-reference inlined-subtree shape whose OPTIMIZE+CODEGEN cost
dominated pca_power_iteration in r13 (982 nodes vs 30 fixed; see
``_executable_nodes``).

Unpartitioned windows: ``Window.orderBy`` without partitioning serializes
its input into one task — a scale-killer UNLESS the input is a bounded
aggregate. Bounded uses must go through ``operators.windows.bounded_window``
(which documents the bound); this audit flags any plan whose final
``Window`` node sorts with an empty partition spec while the query is not
in the bounded-window registry.

The same plan walk (``_iter_plans``) serves four modes:

    python tools/audit_plans.py [sf_dir] [--run-streaming]
        flag scan; exit 1 on any flag
    python tools/audit_plans.py --fingerprint [sf_dir] [--run-streaming]
                                [--only name1,name2,...]
        (re)write PLAN_FINGERPRINTS.json
    python tools/audit_plans.py --diff [sf_dir] [--run-streaming]
        rebuild fingerprints and diff them against PLAN_FINGERPRINTS.json
        (the CLI form of tests/test_fingerprints.py); exit 1 on drift,
        2 on a cross-SF comparison
    python tools/audit_plans.py --explain [sf_dir] [query ...]
        write each plan's formatted EXPLAIN to /tmp/spark_graft_plans/
        and print one exchange/join/scan summary line per query
"""

from __future__ import annotations

import json
import os
import re
import sys
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ccirecommenderdatapipeline_spark import plans
from ccirecommenderdatapipeline_spark.session import get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(ROOT, "PLAN_FINGERPRINTS.json")
EXPLAIN_DIR = "/tmp/spark_graft_plans"

FLAGS = ("CartesianProduct", "BatchEvalPython")
COUNTED = ("BroadcastNestedLoopJoin", "SortMergeJoin")

# Queries allowed to keep a fold inside a HOF lambda (see
# _nested_folds_in_lambda). Every entry needs a one-line justification —
# acceptable ones: an inner fold over a DIFFERENT, strictly smaller
# array (nested-array data), never the lambda's own input; or folds over
# a SCHEMA/VOCABULARY-bounded array on a single-row relation, where the
# n^2 is a constant independent of data volume (the burn class this flag
# exists for — bollinger_bands, CCI MAD — was per-ROW x per-element over
# data-sized arrays).
# r16 (VERDICT r15 item 7): every justification MUST name the bound's
# SOURCE as "bound source: <table.column domain>" — the fold is a
# collect-in-disguise if anyone re-points it at an open node domain, so
# the named column is what a schema change must trip in review.
# tests/test_audit_folds.py asserts the format.
NESTED_FOLD_OK: dict[str, str] = {
    "markov_stationary": (
        "bound source: part.p_brand domain (TPC-H 25 brands at ANY data "
        "volume) — all folds run on ONE row over the vocabulary-bounded "
        "transition matrix (|V|^2 <= 625 entries): 20 power iterations "
        "+ per-row totals as nested HOFs, replacing 20 eager "
        "localCheckpoint jobs (11.2 s -> 2.4 s sf0.1)"
    ),
    # r15 graph-iteration replans — the same single-row vocabulary-bounded
    # class as markov_stationary (see PLANS.md r15): each fold runs once,
    # on one row, over the <=25-brand / <=600-edge lift graph, replacing
    # per-round eager localCheckpoint + convergence-probe jobs.
    "kcore_decomposition": (
        "bound source: part.p_brand domain (graph nodes ARE brands; "
        "<=C(25,2) lift edges at ANY volume) — 26 peels as one fold over "
        "the single-row bounded edge list (<=300 structs); replaces ~2 "
        "jobs/round (3.8 -> 2.9 s sf0.1 A/B)"
    ),
    "sssp_weighted": (
        "bound source: part.p_brand domain (graph nodes ARE brands) — "
        "24 min-plus rounds as one fold over the single-row bounded "
        "symmetric edge list (<=600 structs); replaces ~2 jobs/round "
        "(2.4 -> 1.7 s sf0.1 A/B)"
    ),
    "connected_components": (
        "bound source: part.p_brand domain (graph nodes ARE brands) — "
        "|V|-1 min-label rounds as one fold over the single-row bounded "
        "edge list; replaces ~4 jobs + a collect probe per star round "
        "(9.0 -> 3.9 s sf0.1 A/B on the r15 box)"
    ),
    "hits_hubs_authorities": (
        "bound source: part.p_brand domain (matrix axes ARE brands) — "
        "2 matvec rounds as one fold over the single-row vocabulary-"
        "bounded co-purchase matrix M = A^T A (<=625 entries for 25 "
        "brands at ANY volume); replaces per-round global shuffles that "
        "re-inlined the 3-table edge build (4.97 -> 4.35 s sf0.1 A/B)"
    ),
}

# Queries allowed to emit a DECIMAL-typed OUTPUT column. Decimal readouts
# are the class behind round 9's three driver hash-mismatches (rows/schema
# green, hash red, bit-exact locally): Spark decimals and DuckDB
# DECIMAL/HUGEINT normalize differently in external fetch paths even when
# values are identical. The rule since r10: exact decimal math stays
# INTERNAL; every readout column is flattened to double/long/string on
# both engines. Every entry here needs a one-line justification.
DECIMAL_READOUT_OK: dict[str, str] = {
    "bloom_semi_join_pushdown": (
        "driver-green r9 precedent: same-scale(2) money decimal on both "
        "engines; left stable rather than churning a green verdict"
    ),
}

# Queries allowed to keep a dp>0 rounding of a raw ln() in their plan.
# The r11 rule (operators/lnq.py): transcendentals feeding readouts are
# quantized to integer nano-nats (`round(ln(x) * 1e9, 0)` -> bigint) so
# all downstream math is exact; `round(ln(x), dp)` keeps DOUBLE
# intermediates whose summation needs per-site decimal machinery and
# carries the same midpoint knife-edge in a less auditable form. The
# drift/LM core (psi x2, KL, perplexity, entropy) was converted in r11;
# the entries below share the old guarded idiom — each names its
# conversion round or the reason the shape is not a readout sum.
LN_READOUT_OK: dict[str, str] = {
    # the sum-class entries (NB/GD/IG/KM) were converted to ln_units in
    # r11 itself; only the two per-row-value usages remain — in both, ln
    # produces a VALUE or KEY for one row, never a cross-row sum, so the
    # integer-unit rule buys nothing and dp-rounding is the documented
    # determinism contract
    "dp_noisy_counts": (
        "ln feeds the seeded Laplace noise VALUE (a per-row transform, "
        "not a cross-row sum); dp-rounding is the documented determinism "
        "contract for the noise column — green r7"
    ),
    "weighted_sample_wr": (
        "ln feeds a per-row SELECTION KEY (Efraimidis-Spirakis order "
        "statistic), not a readout sum; dp-rounding only breaks "
        "cross-engine ties identically — green r7"
    ),
}


# Plan-size budget (VERDICT r13 item 4): the r13 pca inlining bug — each
# downstream reference to an un-persisted shared subtree re-inlines the
# whole covariance tree, so OPTIMIZE+CODEGEN dominated the query (13.2 s
# vs 5.2 s at sf0.01; found by a bench-cell anomaly, not by this audit) —
# measures 982 EXECUTABLE nodes, while the largest legitimate registered
# plan is ~35 (corpus_pipeline 32, markov_stationary 33). Flag anything
# past this budget; the planted-regression test
# (tests/test_plan_size_audit.py) reverts the pca persists and asserts
# the flag fires.
PLAN_NODE_BUDGET = 150

# Queries allowed past the default budget, each with its OWN cap
# (~1.5x its audited size, so growth still trips) and a one-line
# justification. All five are bounded-iteration unrolled chains: plan
# size is linear in a FIXED iteration/arm constant (rounds, channels,
# power steps), not in data volume — distinct from the pca class, where
# a shared subtree was re-inlined per REFERENCE and the plan grew
# multiplicatively. r12 adjudicated persist-per-iteration as a
# pessimization for this family (pagerank); candidates for plan-size
# truncation (persist/localCheckpoint every K iterations) are tracked in
# PLANS.md and re-measured before any replan.
PLAN_SIZE_OK: dict[str, tuple[int, str]] = {
    "contrastive_triplets": (280, "audited 182: per-arm candidate "
                             "chains over a fixed arm count"),
    "hits_hubs_authorities": (360, "audited 239: fixed power-iteration "
                              "unroll, integer-exact variant"),
    # r16: markov_attribution (307 -> 91 nodes, single-pass transitions
    # + in-row readout sum) and gbdt_boost_round (593 -> 11 nodes,
    # plan-size persists on the bounded boosting intermediates) left the
    # allowlist — both now fit the default budget.
}


def _executable_nodes(jplan) -> int:
    """Count the physical operators that will actually EXECUTE: descend
    the plan tree, unwrapping AdaptiveSparkPlanExec (its children() is
    empty — the real tree hangs off initialPlan) and truncating at
    InMemoryTableScanExec (the cached subtree runs ONCE at
    materialization, not per reference — which is exactly why
    persist-for-plan-size works). Plan TEXT counts cannot express this:
    toString() re-renders each cached subtree at every reference site, so
    the fixed and broken pca shapes both show 80 scans / 244 exchanges in
    text while differing 30 vs 982 in executable nodes."""
    n, stack = 0, [jplan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.initialPlan())
            continue
        n += 1
        if cls == "InMemoryTableScanExec":
            continue
        ch = p.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return n


def _is_streaming_wrapped(name: str) -> bool:
    """stream_* plan functions execute availableNow micro-batch jobs (and
    write staging/checkpoint dirs) to produce their batch result — the one
    naming convention the registry enforces (plans/streaming.py)."""
    return name.startswith("stream_")


# Queries whose RETURNED plan is an eagerly-computed 1-row local relation
# (the r12 ml_minhash_lsh verdict fold): the returned fingerprint carries
# zero structural information, and merely BUILDING the query executes its
# full multi-second job. Instead of a blanket skip (which permanently
# blinded the freshness gate to replans — ADVICE r12 item 3), each entry
# maps to a PRE-FOLD builder: the lazy subtree up to but not including
# the eager verdict collect. Building it still pays the MLlib-eager fits
# and the bounded probe pass (seconds), not the all-pairs verdict join
# (the multi-second part), and its plan text carries the query's real
# structure + literals, so drift is visible again. Entries are marked
# "__prefold__": 1 in the fingerprint file so readers know what the
# counts describe.
def _prefold_builders():
    from ccirecommenderdatapipeline_spark.plans.mllib import (
        ml_minhash_lsh_prefold,
    )

    return {"ml_minhash_lsh": ml_minhash_lsh_prefold}


class Plan(NamedTuple):
    """One registered query's built plan, as ``_iter_plans`` yields it.

    ``executed`` feeds node counts and the flag scanners; ``analyzed``
    feeds canonical_hash — it carries every user-written literal and hint
    but predates the optimizer/physical stages whose rendering is
    session-history-sensitive (distinct-agg grouping-id assignment in
    Expand, cache substitution, DataFilters length-truncation cut
    points). ``skipped`` is True for streaming-wrapped queries in default
    mode and ``"prefold"`` for eager-local-result queries, whose texts are
    the PRE-FOLD subtree's plans (see _prefold_builders)."""

    name: str
    executed: str | None = None
    analyzed: str | None = None
    formatted: str | None = None  # only when _iter_plans(formatted=True)
    dec_cols: list = []
    exec_nodes: int = 0  # _executable_nodes; 0 when skipped/errored
    skipped: bool | str = False
    err: str | None = None


def _iter_plans(spark, sf_dir: str, run_streaming: bool, only=None,
                formatted: bool = False):
    """Build every registered query (or those in ``only``) and yield one
    :class:`Plan` each, without executing anything beyond what the plan
    functions themselves run."""
    from pyspark.sql.types import DecimalType

    from ccirecommenderdatapipeline_spark.operators.planmemo import reset

    prefold = _prefold_builders()
    for name, fn in plans.QUERIES.items():
        if only is not None and name not in only:
            continue
        # audit in the pristine fresh-session state so the fingerprint is
        # order-independent (memo-hit plans share exprIds — see reset's
        # docstring)
        reset(spark)
        if _is_streaming_wrapped(name) and not run_streaming:
            yield Plan(name, skipped=True)
            continue
        try:
            df = prefold[name](spark, sf_dir) if name in prefold else fn(
                spark, sf_dir
            )
            qe = df._jdf.queryExecution()
            jplan = qe.executedPlan()
            plan = Plan(
                name,
                executed=jplan.toString(),
                analyzed=qe.analyzed().toString(),
                formatted=(
                    spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
                    if formatted else None
                ),
                dec_cols=[
                    f.name
                    for f in df.schema.fields
                    if isinstance(f.dataType, DecimalType)
                ],
                exec_nodes=_executable_nodes(jplan),
                skipped="prefold" if name in prefold else False,
            )
        except Exception as exc:  # streaming-only plans can't batch-build
            yield Plan(name, err=type(exc).__name__)
            continue
        yield plan
        spark.catalog.clearCache()


def main(sf_dir: str, run_streaming: bool) -> int:
    from ccirecommenderdatapipeline_spark.operators.windows import (
        BOUNDED_WINDOW_QUERIES,
    )

    spark = get_spark("plan-audit")
    flagged: list[tuple[str, str]] = []
    counts = {k: 0 for k in COUNTED}
    errors: list[str] = []
    skipped: list[str] = []
    eager_skipped: list[str] = []
    audited = 0
    biggest: tuple[int, str] = (0, "")
    for p in _iter_plans(spark, sf_dir, run_streaming):
        name, txt, dec_cols, exec_nodes = (
            p.name, p.executed, p.dec_cols, p.exec_nodes
        )
        if p.skipped == "prefold":
            eager_skipped.append(name)  # audited below, on the prefold text
        elif p.skipped:
            skipped.append(name)
            continue
        if p.err is not None:
            errors.append(f"{name}: {p.err}")
            continue
        audited += 1
        biggest = max(biggest, (exec_nodes, name))
        cap = PLAN_SIZE_OK.get(name, (PLAN_NODE_BUDGET, ""))[0]
        if exec_nodes > cap:
            flagged.append(
                (name, f"plan size: {exec_nodes} executable nodes > "
                       f"cap {cap} — a shared subtree is being "
                       "re-inlined per reference (the r13 pca class); "
                       "persist the shared intermediate to truncate the "
                       "plan, or justify in PLAN_SIZE_OK")
            )
        if dec_cols and name not in DECIMAL_READOUT_OK:
            flagged.append(
                (name, f"DECIMAL readout columns {dec_cols} (r9 hash-red "
                       "class — flatten to double/long/string)")
            )
        for f in FLAGS:
            if f in txt:
                flagged.append((name, f))
        if _has_unpartitioned_window(txt) and name not in BOUNDED_WINDOW_QUERIES:
            flagged.append((name, "unpartitioned Window (not bounded_window)"))
        if name not in NESTED_FOLD_OK:
            for snip in _nested_folds_in_lambda(txt):
                flagged.append((name, f"fold inside HOF lambda (n^2): ...{snip}..."))
        if name not in LN_READOUT_OK:
            for snip in _rounded_raw_ln(txt):
                flagged.append(
                    (name, f"dp>0 rounding of raw ln (use operators/lnq."
                           f"ln_units integer-unit quantization): {snip}")
                )
        for c in COUNTED:
            counts[c] += 1 if c in txt else 0
    print(f"audited {audited}/{len(plans.QUERIES)} plans")
    for c, n in counts.items():
        print(f"  {c}: {n} queries (informational)")
    print(
        f"  largest plan: {biggest[1]} at {biggest[0]} executable nodes "
        f"(budget {PLAN_NODE_BUDGET})"
    )
    if eager_skipped:
        print(
            f"  audited {len(eager_skipped)} eager-local-result queries "
            f"on their PRE-FOLD subtree (returned plan is a 1-row local "
            f"relation; see _prefold_builders): {eager_skipped}"
        )
    if skipped:
        print(
            f"  skipped {len(skipped)} streaming-wrapped queries "
            f"(pass --run-streaming to execute): {skipped}"
        )
    if errors:
        print(f"  unbuildable as batch: {errors}")
    if flagged:
        for name, f in flagged:
            print(f"[FLAG] {name}: {f}")
        return 1
    print(
        "no CartesianProduct, no row-at-a-time Python eval, "
        "no unregistered unpartitioned windows, no folds inside HOF "
        "lambdas, no unlisted DECIMAL readouts, no unlisted dp>0 "
        "raw-ln roundings, no over-budget plan sizes — clean"
    )
    return 0


def _top_level_bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` group contents of a plan-node argument string."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


def _nested_folds_in_lambda(plan_txt: str) -> list[str]:
    """Return a snippet per higher-order-function lambda whose BODY contains
    another fold (``aggregate(``/``reduce(``) — the n-squared shape that
    burned ``bollinger_bands`` (27.4 s -> 4.7 s once staged) and the CCI
    rolling MAD in round 9 (commit a9dc780): an interpreted HOF re-runs the
    inner fold once PER ELEMENT and per output column. The fix is always the
    same — stage the fold as its own projection column so it evaluates once
    — so any occurrence is either a regression or belongs in
    ``NESTED_FOLD_OK`` with a one-line justification.

    Mechanics: in executed-plan text a HOF lambda renders as
    ``lambdafunction(<body>, lambda args..., false)``; a fold nested in the
    body renders literally as ``aggregate(`` inside those balanced parens
    (verified against Spark 4.1 output). The NORMAL form —
    ``aggregate(arr, init, lambdafunction(...))`` — puts lambdafunction
    inside aggregate, never the reverse. Scanning is PER LINE: each plan
    node renders on one line, and ``FileScan``'s DataFilters argument is
    length-TRUNCATED (unbalanced parens), so a lambda that never closes on
    its own line is a truncated rendering to skip — the full expression
    always also appears on the untruncated Filter/Project node line."""
    hits: list[str] = []
    for line in plan_txt.splitlines():
        i = 0
        while True:
            i = line.find("lambdafunction(", i)
            if i < 0:
                break
            j = i + len("lambdafunction(")
            depth = 1
            while j < len(line) and depth:
                if line[j] == "(":
                    depth += 1
                elif line[j] == ")":
                    depth -= 1
                j += 1
            if depth:  # truncated rendering — unjudgeable, skip the line
                break
            body = line[i + len("lambdafunction(") : j - 1]
            for fold in ("aggregate(", "reduce("):
                k = body.find(fold)
                if k >= 0:
                    hits.append(body[max(0, k - 40) : k + 60])
                    break
            # resume AFTER this lambda's body so the nested aggregate's own
            # (legitimate) merge/finish lambdas are not re-reported
            i = j
    return hits


def _rounded_raw_ln(plan_txt: str) -> list[str]:
    """Occurrences of ``round(ln(<expr>), dp)`` with dp > 0 — the
    pre-r11 transcendental-readout idiom (see LN_READOUT_OK). The
    sanctioned form renders as ``round((ln(<expr>) * 1.0E9), 0)``: the
    scale multiply sits INSIDE round's first argument and dp is 0, so it
    never matches. Balanced-paren scan per line; truncated plan lines
    (FileScan argument cutoffs) are skipped like _nested_folds_in_lambda
    skips them."""
    hits: list[str] = []
    for line in plan_txt.splitlines():
        i = 0
        while True:
            j = line.find("round(ln(", i)
            if j < 0:
                break
            k = j + len("round(")  # start of "ln(...)"
            depth = 0
            m = k
            closed = False
            while m < len(line):
                if line[m] == "(":
                    depth += 1
                elif line[m] == ")":
                    depth -= 1
                    if depth == 0:
                        closed = True
                        break
                m += 1
            if not closed:
                break  # truncated line — unbalanced, skip the rest
            tail = re.match(r",\s*(\d+)\)", line[m + 1:])
            if tail and int(tail.group(1)) > 0:
                hits.append(line[j : m + 1 + tail.end()])
            i = m + 1
    return hits


def _has_unpartitioned_window(plan_txt: str) -> bool:
    """True when any Window node in the executed plan has an EMPTY
    partition spec (WindowExec's "No Partition Defined" condition). Spark
    4.1 renders the node as ``Window [funcs], [partcols], [ordercols]``
    when both specs are present; with only one spec present there are two
    bracket groups and the survivor is an ORDER list iff its entries carry
    sort directions (``ASC``/``DESC``) — a partition-only window (global
    frame per group, e.g. ``count(*) over (partition by k)``) has none.
    One bracket group means neither spec: a whole-relation window, also
    unpartitioned. Verified against executedPlan output for all shapes."""
    for raw in plan_txt.splitlines():
        line = raw.strip()
        while line[:3] in ("+- ", ":- ") or (
            line[:1] == ":" and line[1:2] in (" ", "-")
        ):
            line = line[3:] if line[:3] in ("+- ", ":- ") else line[1:]
            line = line.lstrip(" :")
        if line.startswith("Window ") and "windowspecdefinition" in line:
            groups = _top_level_bracket_groups(line[len("Window "):])
            if len(groups) >= 3:
                continue  # [funcs], [part], [order]
            if len(groups) == 2:
                second = groups[1]
                if " ASC" in second or " DESC" in second:
                    return True  # [funcs], [order] — no partition spec
                continue  # [funcs], [part] — partition-only window
            return True  # [funcs] alone — whole-relation window
    return False


def canonical_hash(plan_txt: str, parallelism: int | None = None) -> str:
    """Literal-sensitive plan hash (VERDICT r12 item 2) — md5 of the
    ANALYZED-plan text with the per-session variance sources normalized
    out:

    - expression IDs (``name#123``) renumbered by order of first
      appearance (``#e0``, ``#e1``, ...) — they restart per SparkSession
      and shift with registry build order, but their equality STRUCTURE
      (which references bind to which definition) is preserved;
    - filesystem paths under the fixture root and /tmp (streaming
      staging/checkpoint dirs with mkdtemp-random names) collapsed to
      ``<path>``;
    - ``[plan_id=N]`` tags dropped — the counter is session-global, so
      it shifts with everything built before the query (measured:
      182/326 executed plans differed across two sessions on this token
      alone);
    - lambda-variable name counters (``lambda x_55#123`` — the numeric
      suffix is a session-global NamedLambdaVariable counter) dropped;
      binding structure survives in the renumbered exprId. Only the
      ``lambda ``-prefixed form is rewritten, so real column names
      ending in digits (``lo_10``) keep their literal identity;
    - JVM object identity suffixes (``UnsafeArrayData@bde43db9``)
      dropped;
    - generated hex identifier suffixes (``inputCol_af65dd3779fc`` —
      MLlib Identifiable uids; ``strm_ee6003ed45`` — the streaming
      wrappers' per-run temp-view names) dropped: 10+ hex chars after
      an underscore never occur in hand-written column names here, and
      literal hex CONSTANTS in expressions render as function args, not
      ``_hex`` identifier tails;
    - the two literals derived from the host's core count, when
      ``parallelism`` (the session's ``defaultParallelism``) is given:
      ``spark.range``'s ``Range (..., splits=Some(P))`` and
      ``sources.tables.fan_out``'s ``RepartitionByExpression [key], P``.
      Only a count EQUAL to ``parallelism`` is rewritten, so a
      hand-written partition count keeps its literal identity (unless it
      happens to equal the core count of the host taking the hash).

    The ANALYZED plan (not optimized/executed) is the hash source: it
    still carries every user-written literal, hint, and shape — a
    constant-only replan (the r11 nano-nat class, invisible to the
    structural node counts) moves it — but it predates the stages whose
    RENDERING is session-history-sensitive even for an identical query:
    the distinct-aggregate rewrite assigns Expand grouping ids in an
    order that varies with prior session work (measured: data_profile /
    assortativity_degree hashed differently under pytest, --only mode,
    and the full loop), cache substitution splices InMemoryRelation
    depending on what happens to be persisted, and FileScan DataFilters
    length-truncate at cut points that shift with upstream counter
    widths. Structural/physical drift stays covered by the node counts
    next to the hash. The 12-hex-digit truncation keeps the JSON
    diffable; collision odds across ~10^3 plan versions are ~10^-8."""
    import hashlib

    txt = re.sub(r"\[plan_id=\d+\]", "[plan_id=<n>]", plan_txt)
    txt = re.sub(r"\blambda ([A-Za-z]+)_\d+#", r"lambda \1_<n>#", txt)
    txt = re.sub(r"@[0-9a-f]{7,}\b", "@<addr>", txt)
    txt = re.sub(r"_[0-9a-f]{10,16}\b", "_<uid>", txt)
    txt = re.sub(
        r"(?:file:)?/(?:root/testdata|tmp)/[^\s\],)]*", "<path>", txt
    )
    if parallelism is not None:
        txt = txt.replace(f"splits=Some({parallelism})", "splits=Some(<cores>)")
        txt = re.sub(
            rf"^(\W*RepartitionByExpression \[.*\], ){parallelism}$",
            r"\1<cores>",
            txt,
            flags=re.M,
        )
    ids: dict[str, str] = {}
    txt = re.sub(
        r"#(\d+)",
        lambda m: ids.setdefault(m.group(1), f"#e{len(ids)}"),
        txt,
    )
    return hashlib.md5(txt.encode()).hexdigest()[:12]


# node types whose per-plan counts make up a fingerprint
FINGERPRINT_NODES = (
    "Exchange", "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "InMemoryTableScan", "Scan parquet",
    "WindowGroupLimit", "HashAggregate", "ObjectHashAggregate",
)


def fingerprints(
    spark, sf_dir: str, run_streaming: bool = False, only=None
) -> dict:
    """Per-query physical-plan fingerprint: counts of the load-bearing
    node types plus the literal-sensitive ``__lit_md5__``. Diffing two of
    these catches SILENT plan regressions — a broadcast degrading to a
    sort-merge join, a cache that stopped matching, an extra exchange,
    a constant-only replan — that correctness gates cannot see.

    Streaming-wrapped queries get a real fingerprint only with
    ``run_streaming``; otherwise they are marked
    ``{"__streaming_skipped__": 1}`` so the dict still carries one key
    per registered query. Physical plans are SF-DEPENDENT by design
    (static size estimates cross autoBroadcastJoinThreshold between SFs
    — tpch_q7 is BHJx5 at sf0.001 but SMJx1/BHJx4 at sf0.01+), so the
    SF is recorded under ``__meta__`` for :func:`plan_drift`."""
    parallelism = spark.sparkContext.defaultParallelism
    fp: dict = {}
    for p in _iter_plans(spark, sf_dir, run_streaming, only=only):
        if p.skipped and p.skipped != "prefold":
            fp[p.name] = {"__streaming_skipped__": 1}
            continue
        if p.err is not None:
            fp[p.name] = {"__error__": 1}
            continue
        ent: dict = {
            n: p.executed.count(n)
            for n in FINGERPRINT_NODES
            if p.executed.count(n)
        }
        if p.skipped == "prefold":
            # the counts/hash describe the PRE-FOLD subtree (the lazy
            # plan up to the eager verdict collect), not the returned
            # 1-row local relation — see _prefold_builders
            ent["__prefold__"] = 1
        ent["__lit_md5__"] = canonical_hash(p.analyzed, parallelism)
        fp[p.name] = ent
    fp["__meta__"] = {"sf_dir": sf_dir}
    return fp


def write_fingerprints(
    sf_dir: str = "/root/testdata/sf0.01",
    out_path: str = BASELINE,
    run_streaming: bool = False,
    only: list[str] | None = None,
) -> None:
    """Write :func:`fingerprints` to ``out_path`` (``--fingerprint``).

    With ``only``, existing entries for OTHER queries are preserved
    (merge), so a new-op batch can add its fingerprints without
    re-executing — or clobbering the --run-streaming baselines of — the
    other 300+ plans."""
    fp: dict = {}
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            fp = json.load(f)
        prev_sf = fp.get("__meta__", {}).get("sf_dir")
        if prev_sf is not None and prev_sf != sf_dir:
            raise SystemExit(
                f"--only merge refused: baseline was taken at {prev_sf} "
                f"but this run is {sf_dir}; plans are SF-dependent "
                "(broadcast thresholds), so a mixed-SF baseline is "
                "meaningless. Re-run at the baseline SF or do a full "
                "refresh."
            )
    fp.update(
        fingerprints(get_spark("plan-fingerprint"), sf_dir, run_streaming, only)
    )
    with open(out_path, "w") as f:
        json.dump(fp, f, indent=1, sort_keys=True)
    print(f"wrote {len(fp) - 1} fingerprints to {out_path} (sf_dir={sf_dir})")


def plan_drift(base: dict, now: dict) -> tuple[dict, list, list]:
    """Compare two fingerprint dicts; return ``(drift, new, gone)``.

    ``drift`` maps each drifted name to ``{key: (base, now)}`` for the
    keys that differ. Mode and representation markers are not drift: a
    streaming-skip marker on either side (default mode vs a
    --run-streaming baseline), or the legacy ``__eager_local_result__``
    marker vs the pre-fold fingerprint that replaced it. Raises
    ValueError when the two were taken at different SFs — plans are
    SF-dependent, so that diff would report phantom drift."""
    base, now = dict(base), dict(now)
    base_sf = base.pop("__meta__", {}).get("sf_dir")
    now_sf = now.pop("__meta__", {}).get("sf_dir")
    if base_sf is not None and now_sf is not None and base_sf != now_sf:
        raise ValueError(
            f"baseline was taken at {base_sf}, this run is {now_sf}; "
            "plans are SF-dependent (phantom drift otherwise — see tpch_q7)"
        )
    markers = ("__streaming_skipped__", "__eager_local_result__")
    drift = {}
    for name in sorted(set(base) & set(now)):
        b, c = base[name], now[name]
        if b == c or any(m in b or m in c for m in markers):
            continue
        drift[name] = {
            k: (b.get(k, 0), c.get(k, 0))
            for k in sorted(set(b) | set(c))
            if b.get(k) != c.get(k)
        }
    return drift, sorted(set(now) - set(base)), sorted(set(base) - set(now))


def diff(sf_dir: str, run_streaming: bool) -> int:
    """``--diff``: rebuild fingerprints and diff them against the
    committed baseline. Exit 0 = no drift (new queries listed
    informationally); 1 = drift, with a per-query diff; 2 = the baseline
    was taken at another SF. Refresh the baseline only after explaining
    every drifted line (``--fingerprint --only <names>``)."""
    with open(BASELINE) as f:
        base = json.load(f)
    base_sf = base.get("__meta__", {}).get("sf_dir")
    if base_sf is not None and base_sf != sf_dir:
        print(f"REFUSED: {BASELINE} was taken at {base_sf}, this run is "
              f"{sf_dir}; plans are SF-dependent. Re-run at {base_sf}.")
        return 2
    now = fingerprints(get_spark("plan-fingerprint"), sf_dir, run_streaming)
    drift, new, gone = plan_drift(base, now)
    if new:
        print(f"new queries (no baseline yet): {new}")
    if gone:
        print(f"removed queries (stale baseline entries): {gone}")
    if drift:
        print(f"PLAN DRIFT in {len(drift)} queries:")
        for name, delta in drift.items():
            print(f"  {name}: {delta}")
        return 1
    print(f"no plan drift across {len((set(base) & set(now)) - {'__meta__'})} "
          "baselined queries")
    return 0


def explain(sf_dir: str, names: list[str]) -> int:
    """``--explain``: write each batch plan's formatted EXPLAIN to
    EXPLAIN_DIR/<query>.txt and print an exchange/join/scan summary."""
    os.makedirs(EXPLAIN_DIR, exist_ok=True)
    spark = get_spark("explain-audit")
    for p in _iter_plans(spark, sf_dir, run_streaming=False,
                         only=names or None, formatted=True):
        if p.skipped is True:
            print(f"{p.name:32s} (streaming - skipped)")
            continue
        if p.err is not None:
            print(f"{p.name:32s} ERROR {p.err}")
            continue
        txt = p.formatted
        with open(os.path.join(EXPLAIN_DIR, f"{p.name}.txt"), "w") as fh:
            fh.write(txt)
        pushed = set(re.findall(r"PushedFilters: \[([^\]]*)\]", txt)) - {""}

        # count ONLY the numbered operator-detail headers ("(n) Op"):
        # formatted explain prints every operator twice (tree + detail),
        # and a bare 'Exchange' would also match BroadcastExchange /
        # ReusedExchange
        def op(pat: str) -> int:
            return len(re.findall(rf"^\(\d+\) {pat}\b", txt, re.M))

        print(
            f"{p.name:32s} exch={op('Exchange'):2d} "
            f"bhj={op('BroadcastHashJoin')} smj={op('SortMergeJoin')} "
            f"bnlj={op('BroadcastNestedLoopJoin')} "
            f"scans={op('Scan parquet')} "
            f"pushed={'y' if pushed else '-'}"
        )
    return 0


if __name__ == "__main__":
    run_streaming = "--run-streaming" in sys.argv
    argv = [a for a in sys.argv[1:] if a != "--run-streaming"]
    mode = next((a for a in argv if a in (
        "--fingerprint", "--diff", "--explain")), None)
    args = [a for a in argv if a != mode]
    if mode == "--fingerprint":
        only = None
        if "--only" in args:
            i = args.index("--only")
            only = args[i + 1].split(",")
            args = args[:i] + args[i + 2 :]
        write_fingerprints(*args, run_streaming=run_streaming, only=only)
        raise SystemExit(0)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    if mode == "--diff":
        raise SystemExit(diff(sf_dir, run_streaming))
    if mode == "--explain":
        raise SystemExit(explain(sf_dir, args[1:]))
    raise SystemExit(main(sf_dir, run_streaming))
