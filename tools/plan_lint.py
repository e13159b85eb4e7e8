"""Registry-wide physical-plan linter.

Builds the physical plan of EVERY registry query at sf0.001 and
asserts three repo-wide invariants mechanically, instead of per-query
claims:

- no ``BatchEvalPython`` anywhere: row-at-a-time Python UDFs are
  banned from every data path (Arrow forms — ArrowEvalPython /
  MapInPandas / FlatMapGroupsInPandas — are the sanctioned Python
  boundary and are counted, not flagged);
- no ``CartesianProduct``: every cross join in the repo must be a
  broadcast of a parameter-sized frame (which plans as
  BroadcastNestedLoopJoin), never a shuffled cartesian;
- no UNADJUDICATED unpartitioned window (r4 verdict #2): a
  ``Window`` node with an empty partition spec — ordered or not —
  moves every input row to ONE task, the scale-killer class that
  produced r4's only weak finding. Every query whose plan contains
  one must carry a whitelist adjudication naming the parameter-sized
  frame the window actually runs over (distinct-value table,
  hour/day grid, offsets / carry-in table, top-k head,
  symbol-universe-bounded frame, ...), and the adjudication pins the
  exact SITE COUNT — growing a new global window inside a
  whitelisted query re-trips the lint.
  A corpus-sized unpartitioned window must be rewritten with the
  two-level prefix scan (``operators/rank.py``) instead of
  whitelisted;
- no UNADJUDICATED tiny-cardinality-partitioned window (r5 verdict
  #1/#2): a ``Window`` node whose partition spec consists ONLY of
  known tiny-cardinality corpus axes (``split`` / ``source`` /
  ``lang`` — 3 / 20 / 5 values at any SF) concentrates a constant
  fraction of the corpus into ONE task: partitioning by ``split``
  puts ~90% of a 100 TB corpus (the train split) into a single sort.
  The 311-plan r5 sweep passed 4 such scale-killers because the old
  rule only saw EMPTY partition specs. Same mechanism as above:
  rewrite onto ``operators/rank.py::prefix_scan_rank`` (its
  ``partition_cols`` + md5-prefix ``bucket`` is exactly the
  generalized per-group cumsum / top-k), or adjudicate with a pinned
  site count naming why the windowed frame is NOT corpus-sized
  (e.g. a per-(source,bucket) offsets table of the prefix scan
  itself, or a group-universe-bounded aggregate).

Writes PLAN_LINT.md with the verdict, the per-query global-window
adjudication table, and the Python-boundary inventory. Iterative
queries execute their driver-side fixpoint loops during plan
construction — that is expected; the linter inspects the FINAL
returned plan of each.

Usage: python tools/plan_lint.py
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.001"

#: query -> (expected site count, why its unpartitioned window(s) are
#: parameter-sized, i.e. the window input is NEVER the corpus).
#: Adjudications are size-CLASS claims a reviewer can check against the
#: query source; the pinned count makes the adjudication PER-SITE — a
#: whitelisted query that grows a new global window trips the lint
#: instead of inheriting a stale blanket approval.
GLOBAL_WINDOW_WHITELIST: dict[str, tuple[int, str]] = {
    "concurrent_intervals_profile": (1,
        "day-grid carry-in offsets: one row per day — the "
        "parameter-sized level of its own two-level sweep"
    ),
    "cumulative_unique_users": (1,
        "#days frame: running sum over per-day first-seen counts "
        "(docstring: 'tiny by construction', never the event log)"
    ),
    "curriculum_quality_order": (3,
        "prefix-scan offsets tables only: per-richness-value counts "
        "(domain bounded by tokens-per-doc) and the 10x256 "
        "(decile, md5-prefix) cell table; corpus rows are windowed "
        "exclusively per-cell (r4 verdict #1 fix)"
    ),
    "kaplan_meier_conversion": (2,
        "life table: one row per discrete hour up to the censor "
        "horizon (docstring: horizon+1 rows max)"
    ),
    "kruskal_wallis_event_types": (1,
        "pooled distinct-value counts table — the rank construction "
        "never windows raw rows"
    ),
    "lang_temperature_mix": (4,
        "per-language mixture table (language-universe-bounded); all "
        "4 sites — temperature normalizers and totals — run over the "
        "same #languages-row frame"
    ),
    "largest_remainder_allocation": (3,
        "per-nation allocation table (nation-universe-bounded, 25 "
        "rows at any SF); all 3 sites — total, floor-sum, and the "
        "remainder rank — run over the same 25-row frame"
    ),
    "pareto_customer_revenue": (1,
        "prefix-scan offsets table only: one row per revenue band "
        "(64 broadcast-percentile buckets); customer rows are "
        "windowed exclusively per-band (operators/rank.py step 3)"
    ),
    "gini_customer_revenue": (1,
        "prefix-scan offsets table only: one row per revenue band "
        "(64 broadcast-percentile buckets); customer rows are "
        "windowed exclusively per-band (operators/rank.py step 3)"
    ),
    "portfolio_equal_weight_summary": (1,
        "portfolio-level hourly grid: one row per hour after the "
        "per-hour aggregate"
    ),
    "rolling_pair_correlation": (1,
        "hourly grid: one row per hour after the per-hour aggregate"
    ),
    "skyline_parts": (1,
        "cross-bucket prefix-min heads: one row per price bucket — "
        "the parameter-sized level of its own two-level decomposition"
    ),
    "benford_first_digit": (1,
        "digit-universe frame: the share denominator runs over the "
        "9-row first-digit count table"
    ),
    "histogram2d_qty_price": (1,
        "bin-grid frame: the density denominator runs over the "
        "(qty_bin x price_bin) cell table, bounded by the fixed grid"
    ),
    "partition_pruning_stats": (1,
        "partition-listing frame: one row per date partition of the "
        "layout under inspection"
    ),
    "psi_price_drift": (1,
        "PSI bin table: the early/late share denominators run over "
        "the fixed decile-bin frame"
    ),
    "rank_tests_panel": (1,
        "pooled and per-pair distinct-value counts tables — the "
        "shared rank construction never windows raw rows"
    ),
}

#: Corpus axes whose cardinality is tiny at EVERY scale factor
#: (split 3, source 20, lang 5). A Window partitioned ONLY by a
#: subset of these puts a constant fraction of its input into one
#: task — the r5-verdict scale-killer class. ``symbol`` is handled
#: by the same argument on tick tables but every per-symbol
#: time-series window is day-grid-bounded per key (390 bars/day), so
#: it is not auto-flagged; the corpus axes have no such bound.
TINY_CARD_COLS = {"split", "source", "lang"}

#: query -> (expected tiny-partitioned site count, why the windowed
#: frame is NOT corpus-sized). Same pinned-count mechanism as the
#: global-window whitelist.
TINY_PARTITION_WHITELIST: dict[str, tuple[int, str]] = {
    # ---- prefix-scan offsets windows (operators/rank.py step 3):
    # the window input is the per-(group, bucket) COUNTS table —
    # groups x n_buckets rows, never corpus rows. Corpus rows are
    # windowed exclusively per (group, bucket) cell.
    "pretraining_block_manifest": (1,
        "prefix-scan offsets table only: (split x doc_id-bucket) "
        "rows; the r5-verdict #1 rewrite — corpus rows are "
        "cumsum'd per (split, bucket) cell"
    ),
    "sequence_packing": (1,
        "prefix-scan offsets table only: (source x doc_id-bucket) "
        "rows (r5 verdict #2 rewrite)"
    ),
    "stratified_hash_sample": (1,
        "prefix-scan offsets table only: (source x md5-prefix) "
        "rows, then filtered to offsets < top_k (r5 verdict #3 "
        "rewrite)"
    ),
    "weighted_doc_sample": (1,
        "prefix-scan offsets table only: (lang x priority-bucket) "
        "rows, filtered to offsets < top_k (r5 verdict #4 rewrite)"
    ),
    "stratified_sample_per_stratum": (1,
        "prefix-scan offsets table only: (lang x source x "
        "hash-prefix) rows, filtered to offsets < top_k; n_stratum "
        "comes from a strata-sized aggregate (r5 borderline-audit "
        "rewrite)"
    ),
    "compaction_bin_packing": (1,
        "prefix-scan offsets table only: (source x doc_id-bucket) "
        "rows over the file manifest (r5 borderline-audit rewrite)"
    ),
    "token_budget_selection": (1,
        "prefix-scan offsets table only: (source x richness-bucket) "
        "rows — already built on prefix_scan_rank; this is its "
        "parameter-sized carry-in level"
    ),
    # ---- vocabulary-frame top-k windows: input is the per-(lang,
    # token) or (source, token) COUNT aggregate — Heaps-sublinear
    # vocabulary, not documents — and the rank<=N filter plans as
    # partial+final WindowGroupLimit (verified in the executed
    # plan), so each map partition forwards only its local top-N
    # per group before the shuffle; the per-group reducer frame is
    # N x #map-partitions rows.
    "zipf_fit_per_lang": (1,
        "per-(lang, token) vocabulary aggregate + partial "
        "WindowGroupLimit top-200 pruning before the shuffle"
    ),
    "lang_vocab_overlap": (4,
        "same top-200 vocabulary window reused across the 4-way "
        "self-join of language pairs; each instance is the (lang, "
        "token) aggregate with partial WindowGroupLimit pruning"
    ),
    "token_kl_drift": (1,
        "per-(source, token) smoothed-term grid (vocabulary x "
        "sources aggregate) + partial WindowGroupLimit top-1 "
        "pruning before the shuffle"
    ),
}


def _window_nodes(plan: str) -> list[tuple[bool, bool, list[str]]]:
    """(has_partition, has_order, part_cols) for every Window node in
    the plan; ``part_cols`` is the list of bare partition column
    names (``src#123`` → ``src``; complex expressions yield tokens
    that match no known column, so only plain tiny-axis columns can
    trip the tiny-partition rule).

    A Window node prints its top-level bracket groups as
    ``Window [funcs], [part], [order]`` (partitioned+ordered),
    ``Window [funcs], [order]`` (UNPARTITIONED ordered — the flagged
    shape), or ``Window [funcs], [part]`` (partition-only running
    frame). Ordering groups are recognizable by their full
    sort-direction token pattern (`` ASC|DESC NULLS FIRST|LAST``);
    partition groups never carry it (a column merely NAMED e.g.
    ``ASC_flag`` does not match the token pattern).
    """
    import re

    _SORT_TOKEN = re.compile(r" (ASC|DESC) NULLS (FIRST|LAST)")
    out = []
    for line in plan.splitlines():
        idx = line.find("Window [")
        if idx < 0:
            continue
        rest = line[idx + len("Window "):]
        groups: list[str] = []
        depth = 0
        cur: list[str] = []
        for ch in rest:
            if ch == "[":
                depth += 1
                if depth == 1:
                    cur = []
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    continue
            if depth >= 1:
                cur.append(ch)
        groups = groups[:3]

        def _part_cols(g: str) -> list[str]:
            return [
                c.strip().split("#")[0] for c in g.split(",") if c.strip()
            ]

        if len(groups) <= 1:
            # ``Window [funcs]`` — no partition, no order: the
            # whole-input running frame still moves every row to one
            # task, same class as the ordered form
            out.append((False, False, []))
            continue

        def _ordered(g: str) -> bool:
            return bool(_SORT_TOKEN.search(g))

        if len(groups) == 3:
            out.append((True, True, _part_cols(groups[1])))
        elif _ordered(groups[1]):
            out.append((False, True, []))  # Window [funcs], [order]
        else:
            out.append((True, False, _part_cols(groups[1])))
    return out


def main() -> int:
    from stock_trend_predictor_spark import get_spark
    from stock_trend_predictor_spark.plans import REGISTRY

    spark = get_spark(
        app_name="plan-lint",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    flagged: list[tuple[str, str]] = []
    arrow_users: list[tuple[str, list[str]]] = []
    global_windows: list[tuple[str, int, str]] = []
    tiny_windows: list[tuple[str, int, str]] = []
    errors: list[tuple[str, str]] = []
    t0 = time.time()
    for name in sorted(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover - report, don't die
            errors.append((name, str(e)[:200]))
            continue
        if "CartesianProduct" in plan:
            flagged.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan:
            flagged.append((name, "BatchEvalPython (row-at-a-time UDF)"))
        nodes = _window_nodes(plan)
        n_unpart = sum(1 for has_part, _, _ in nodes if not has_part)
        tiny_specs = [
            cols
            for has_part, _, cols in nodes
            if has_part and cols and set(c.lower() for c in cols) <= TINY_CARD_COLS
        ]
        if tiny_specs:
            pin = TINY_PARTITION_WHITELIST.get(name)
            specs = ", ".join("(" + ",".join(c) + ")" for c in tiny_specs)
            if pin is None:
                flagged.append(
                    (
                        name,
                        f"{len(tiny_specs)} Window node(s) partitioned "
                        f"only by tiny-cardinality corpus axes {specs} "
                        "with no whitelist adjudication — a constant "
                        "corpus fraction lands in one task; rewrite "
                        "onto operators/rank.py::prefix_scan_rank",
                    )
                )
            elif pin[0] != len(tiny_specs):
                flagged.append(
                    (
                        name,
                        f"{len(tiny_specs)} tiny-partitioned Window "
                        f"node(s) {specs} but the whitelist "
                        f"adjudicates exactly {pin[0]} — re-adjudicate "
                        "the new site(s)",
                    )
                )
            else:
                tiny_windows.append((name, len(tiny_specs), pin[1]))
        if n_unpart:
            pin = GLOBAL_WINDOW_WHITELIST.get(name)
            if pin is None:
                flagged.append(
                    (
                        name,
                        f"{n_unpart} unpartitioned Window node(s) "
                        "with no whitelist adjudication",
                    )
                )
            elif pin[0] != n_unpart:
                flagged.append(
                    (
                        name,
                        f"{n_unpart} unpartitioned Window node(s) but "
                        f"the whitelist adjudicates exactly {pin[0]} — "
                        "re-adjudicate the new site(s)",
                    )
                )
            else:
                global_windows.append((name, n_unpart, pin[1]))
        kinds = sorted(
            {
                k
                for k in (
                    "ArrowEvalPython",
                    "MapInPandas",
                    "FlatMapGroupsInPandas",
                )
                if k in plan
            }
        )
        if kinds:
            arrow_users.append((name, kinds))

    stale = sorted(
        set(GLOBAL_WINDOW_WHITELIST)
        - {n for n, _, _ in global_windows}
        - {n for n, _ in errors}
    )
    tiny_stale = sorted(
        set(TINY_PARTITION_WHITELIST)
        - {n for n, _, _ in tiny_windows}
        - {n for n, _ in errors}
    )

    lines = [
        "# PLAN_LINT — registry-wide physical-plan invariants",
        "",
        f"Checked {len(REGISTRY)} queries at {SF} "
        f"in {time.time() - t0:.0f}s.",
        "",
        "Invariants: no `BatchEvalPython` (row-at-a-time Python UDF) "
        "in any data path; no `CartesianProduct` (every cross join "
        "must broadcast a parameter-sized side); no unpartitioned "
        "`Window` (ordered or not) over an unadjudicated frame "
        "(every global-window site must name the parameter-sized "
        "table it runs over with its exact site count pinned, or be "
        "rewritten with the two-level prefix scan in "
        "`operators/rank.py`); no `Window` partitioned only by "
        "tiny-cardinality corpus axes (split/source/lang) over an "
        "unadjudicated frame — the r5-verdict class where a constant "
        "corpus fraction lands in ONE task.",
        "",
        f"**Violations: {len(flagged)}**"
        + ("" if not flagged else " — MUST FIX"),
        "",
    ]
    for name, why in flagged:
        lines.append(f"- VIOLATION `{name}`: {why}")
    if errors:
        lines.append("")
        lines.append(f"Plan-construction errors: {len(errors)}")
        for name, e in errors:
            lines.append(f"- ERROR `{name}`: {e}")
    lines += [
        "",
        f"## Global-window adjudications ({len(global_windows)} queries)",
        "",
        "Every unpartitioned Window (ordered or not) in the registry, with the "
        "parameter-sized frame it actually sorts (none touches the "
        "corpus):",
        "",
        "| query | sites | frame adjudication |",
        "|---|---|---|",
    ]
    for name, n, reason in global_windows:
        lines.append(f"| `{name}` | {n} | {reason} |")
    if stale:
        lines.append("")
        lines.append(
            "Stale whitelist entries (no unpartitioned window found — "
            "remove): " + ", ".join(f"`{n}`" for n in stale)
        )
    lines += [
        "",
        f"## Tiny-cardinality-partition adjudications "
        f"({len(tiny_windows)} queries)",
        "",
        "Every Window whose partition spec is only split/source/lang, "
        "with the reason its windowed frame is NOT corpus-sized:",
        "",
        "| query | sites | frame adjudication |",
        "|---|---|---|",
    ]
    for name, n, reason in tiny_windows:
        lines.append(f"| `{name}` | {n} | {reason} |")
    if tiny_stale:
        lines.append("")
        lines.append(
            "Stale tiny-partition whitelist entries (no such window "
            "found — remove): "
            + ", ".join(f"`{n}`" for n in tiny_stale)
        )
    lines += [
        "",
        f"## Sanctioned Arrow boundaries ({len(arrow_users)} queries use "
        "vectorized Python; everything else is pure JVM)",
        "",
    ]
    for name, kinds in arrow_users:
        lines.append(f"- `{name}`: {', '.join(kinds)}")
    lines.append("")
    with open(os.path.join(ROOT, "PLAN_LINT.md"), "w") as f:
        f.write("\n".join(lines))
    print(
        f"checked={len(REGISTRY)} violations={len(flagged)} "
        f"errors={len(errors)} global_windows={len(global_windows)} "
        f"tiny_windows={len(tiny_windows)} "
        f"stale_whitelist={len(stale) + len(tiny_stale)} "
        f"arrow_users={len(arrow_users)}"
    )
    spark.stop()
    return 1 if flagged or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
