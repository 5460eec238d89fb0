"""Byte-pair-encoding merge machinery at the token level ("phrase
BPE"): train greedy merges on a corpus, apply them as pure engine
expressions.

The classic BPE loop (Sennrich et al. 2016): repeatedly count adjacent
pairs, merge the most frequent pair everywhere, recount. Training is
inherently iterative-global, so it runs ONCE, offline, on a sample
(`train_merges` below — plain Python, model-sized output); application
of a FROZEN merge list is per-row data-parallel and is expressed as a
chain of left-folds over the token array (`apply_merges_col`), one
fold per merge in priority order — exactly replayable by any engine
with ordered-list folds (Spark `aggregate`, DuckDB `reduce`), no UDF.

Greedy-left semantics per pass: scanning left to right, a pair merges
whenever the accumulator's last token is the merge's left side and the
incoming token is its right side — so "a a a" under (a,a) becomes
["a+a", "a"], matching the reference BPE implementations. Merged units
are joined with ``glue`` ('+' by default) so downstream code can see
segment boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.caching import cache_scope, cached


def _merge_pass(tokens: list[str], pair: tuple[str, str], glue: str) -> list[str]:
    out: list[str] = []
    for t in tokens:
        if out and out[-1] == pair[0] and t == pair[1]:
            out[-1] = out[-1] + glue + t
        else:
            out.append(t)
    return out


def train_merges(
    docs: list[list[str]], n_merges: int, glue: str = "+"
) -> list[tuple[str, str]]:
    """Greedy BPE training on tokenized docs: ``n_merges`` rounds of
    (count adjacent pairs) -> (merge the (count DESC, pair ASC) max
    everywhere). Deterministic: ties break lexicographically. Plain
    Python — this is the offline model-fitting step; the merges list
    IS the model (model-sized, broadcast/literal-sized)."""
    seqs = [list(d) for d in docs]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for s in seqs:
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        # (count DESC, pair ASC): max on count, lexicographic min on pair
        top = max(counts.values())
        best_pair = min(p for p, c in counts.items() if c == top)
        merges.append(best_pair)
        seqs = [_merge_pass(s, best_pair, glue) for s in seqs]
    return merges


def train_merges_distributed(
    df,
    tok_col: str,
    n_merges: int,
    glue: str = "+",
):
    """BPE training AS a Spark job (the step `train_merges` runs
    single-node): each round is (1) a map-side-combinable pair-count
    aggregate — explode adjacent (left, right) pairs of the current
    segmentation, groupBy count; (2) a 1-row argmax collect
    (count DESC, left ASC, right ASC — `train_merges`' exact
    tie-break; the collect is model-sized, the centroid precedent);
    (3) one narrow greedy-left fold applying the winning merge
    everywhere. Each round's state is a ``cached()`` cut that the next
    round's argmax collect fills, so round r reads round r-1's cache
    instead of re-running every earlier fold inside its explode; the
    training's ``cache_scope`` releases the rounds' states when it
    ends.

    At 100 TB: rounds are aggregates over (pair -> count) — shuffle
    keys are token pairs with partial aggregation, never all-pairs,
    never document text; the fold is a narrow projection. Returns
    (rank, merge_left, merge_right, pair_count) — rank is 1-based
    merge priority; hash-matches `train_merges` on the same corpus
    (pytest-graded), which is the single-node reference.

    Degenerate edge (documented, unreachable on real corpora): a corpus
    whose every doc has < 2 tokens yields no pairs — training stops
    early and the output has fewer than ``n_merges`` rows.
    """
    spark = df.sparkSession
    merges: list[tuple[int, str, str, int]] = []
    with cache_scope():
        state = cached(
            df.select(F.col(tok_col).alias("s")).filter(F.size("s") > 1)
        )
        for rank in range(1, n_merges + 1):
            pairs = state.select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("s") - 1),
                        lambda i: F.struct(
                            F.element_at("s", i).alias("l"),
                            F.element_at("s", i + 1).alias("r"),
                        ),
                    )
                ).alias("p")
            ).select("p.l", "p.r")
            top = (
                pairs.groupBy("l", "r")
                .agg(F.count(F.lit(1)).alias("c"))
                .orderBy(F.col("c").desc(), "l", "r")
                .limit(1)
                .collect()
            )
            if not top:
                break
            left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["c"])
            merges.append((rank, left, right, cnt))
            # re-filter: a doc merged down to one unit contributes no
            # pairs ever again, and size 1 would turn the pair-window
            # sequence(1, size-1) DESCENDING (Spark infers step -1),
            # indexing past the array
            state = cached(
                state.select(
                    apply_merges_col(F.col("s"), [(left, right)], glue).alias("s")
                ).filter(F.size("s") > 1)
            )
    return spark.createDataFrame(
        merges,
        "merge_rank int, merge_left string, merge_right string, pair_count bigint",
    )


def apply_merges_py(
    tokens: list[str], merges: list[tuple[str, str]], glue: str = "+"
) -> list[str]:
    """Driver-side replay of the fold chain (tests/oracles)."""
    out = list(tokens)
    for pair in merges:
        out = _merge_pass(out, pair, glue)
    return out


def apply_merges_col(
    tokens: Column, merges: list[tuple[str, str]], glue: str = "+"
) -> Column:
    """The frozen merge list as a chain of engine-side left folds over
    an ordered token array — one `aggregate` per merge, priority order.
    Each fold is the greedy-left pass: CASE on (last(acc) = left AND
    x = right) -> replace last with the glued unit, ELSE append. The
    per-element work is interpreted HOF (fine for model-sized merge
    lists over doc-sized arrays); nothing leaves the row, nothing
    shuffles, and the identical fold runs in DuckDB `reduce` for the
    oracle.

    Scale note: each fold's append path copies the accumulator, so a
    pass is O(n^2) in array length — fine at sentence/short-doc token
    counts, wrong for book-length docs. The production shape at that
    scale is the word-cache: segment the DISTINCT token sequences (or
    words, for char-level BPE) once, broadcast the segmentation, and
    map-join it back — application becomes a dictionary lookup and the
    fold only ever runs on vocabulary-sized inputs."""
    col = tokens
    for left, right in merges:
        merged = F.lit(left + glue + right)

        def mk(lf, rt, mg):
            def step(acc, x):
                hit = (
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(lf))
                    & (x == F.lit(rt))
                )
                return F.when(
                    hit,
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(mg)
                    ),
                ).otherwise(F.concat(acc, F.array(x)))

            return step

        col = F.aggregate(
            col,
            F.array().cast("array<string>"),
            mk(left, right, merged),
        )
    return col
