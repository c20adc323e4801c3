"""Half-million-doc end-to-end dedup + curation runs (SCALING.md).

A 500k-doc corpus with a REALISTIC shape (unlike the adversarial
95%-dup corpus validated separately): ~4% true near-dups in 10-variant
groups, the remainder salted-unique so candidate-pair volume behaves
like a web corpus. Generation is fully distributed — text is built
from Spark expressions (hash-indexed vocabulary words), no driver
loops — and lands in .scratch/corpus500k/ (gitignored data; this
script is the tracked, re-runnable record).

Round-9 corpus (VERDICT r8 item 5 — supersedes the r8 32-word-vocab
generator whose birthday collisions produced accidental J>0.5 merges
at 1e7 docs):

* **10,240-token vocabulary** (32 stems x 320 numbered variants,
  hash-indexed): two independent docs share essentially no 3-shingles
  (shingle space ~1e12), so accidental near-dups vanish at any
  tested scale and every verified pair is a constructed one.
* **Tiered within-group Jaccard, exact by construction.** Each dup
  group draws a (m, t) tier: members share an (m-t)-word prefix and
  carry a member-specific t-word tail, so any two group-mates have
  EXACTLY (m-t-2) shared / (m+t-2) unioned 3-shingles — Jaccard is a
  rational constant per tier, not an emergent property of word
  repetition. Tier 0 sits BELOW the 0.5 verify threshold (negative
  control: banded or not, those pairs must never merge); the rest
  ladder J from the banding boundary (0.5, where 16-perm/4-band LSH
  hits only 1-(1-0.5^4)^4 ~ 0.23 per pair) to 0.9 (~0.94). The
  expected banding-miss census is therefore MODELABLE per tier —
  tools/validation/recall_model.py runs the ideal-minhash Monte Carlo
  and reconciles it against the pipeline's observed survivors.

Runs and times:
- dd_dedup_final    — full MinHash-LSH -> Jaccard verify ->
                      large-star/small-star CC -> keep-one join
- pipe_full_curation — staged scoring gates -> language rebalance ->
                      exact dedup -> hierarchical sequence packing

Usage: python tools/validation/corpus500k.py [n_docs] [--curation]

n_docs defaults to 500k (which also runs curation); larger sizes run
the dedup spine only unless --curation is passed, and report the
process-subtree RSS high-water alongside wall time and docs/s. Run
FOREGROUND: background-launched runs are CPU-throttled in this sandbox
and read ~2.5x slow (measured r7).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from dionysus_rb_spark.plans import all_queries
from dionysus_rb_spark.session import get_spark

VOCAB = (
    "scan column window order sort part agg value line key join merge "
    "query group a vector hash slow stream filter fast the spark batch "
    "table small data big customer row push"
).split()
VOCAB_SIZE = 10_240  # 32 stems x 320 numbered variants (>= 1e4 tokens)

N_DOCS = 500_000
N_DUP_GROUPS = 2_000
GROUP = 10  # docs per near-dup group -> 20k docs (4%) are near-dups

# (target_J, m_words, tail_words): members of a tier-(m, t) group are an
# (m-t)-word shared prefix + a member-specific t-word tail, giving any
# two group-mates exactly (m-t-2) shared and (m+t-2) unioned 3-shingles:
# J = (m-t-2)/(m+t-2), a rational constant. Tier 0 is the negative
# control below the 0.5 verify threshold. Groups take tiers round-robin
# (group_id % len(TIERS)).
TIERS = [
    (0.45, 31, 11),  # 18/40 — must NEVER merge (verify gate)
    (0.50, 26, 8),   # 16/32 — banding boundary: p_band ~ 0.23/pair
    (0.60, 26, 6),   # 18/30 — p_band ~ 0.43
    (0.70, 19, 3),   # 14/20 — p_band ~ 0.66
    (0.80, 20, 2),   # 16/20 — p_band ~ 0.85
    (0.90, 21, 1),   # 18/20 — p_band ~ 0.94
]
N_TIERS = len(TIERS)
# groups that can merge at the 0.5 threshold (tiers 1..5)
MERGEABLE_GROUPS = N_DUP_GROUPS - (N_DUP_GROUPS + N_TIERS - 1) // N_TIERS


def _word(h):
    """One of VOCAB_SIZE distinct lowercase tokens, hash-indexed: a
    32-stem base word plus a 0..319 numeric suffix ('scan212'). The
    tokenizer ([a-z0-9]+) keeps each as a single token."""
    wid = F.pmod(h, F.lit(VOCAB_SIZE))
    return F.concat(
        F.element_at(
            F.array(*[F.lit(w) for w in VOCAB]),
            (F.pmod(wid, F.lit(len(VOCAB))) + 1).cast("int"),
        ),
        F.floor(wid / len(VOCAB)).cast("string"),
    )


def build_corpus(spark, out: Path, n_docs: int = N_DOCS) -> None:
    """Write the realistic 500k-shape corpus (distributed generation,
    no driver loops) to ``out/documents.parquet``. The SimHash width
    study (tools/validation/simhash_width.py @ 6813648) ran on this
    identical corpus."""
    ids = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    in_group = F.col("doc_id") < N_DUP_GROUPS * GROUP
    group = (F.col("doc_id") / GROUP).cast("long")
    tier = F.pmod(group, F.lit(N_TIERS))
    m = F.element_at(
        F.array(*[F.lit(m_) for _, m_, _ in TIERS]), (tier + 1).cast("int")
    )
    t = F.element_at(
        F.array(*[F.lit(t_) for _, _, t_ in TIERS]), (tier + 1).cast("int")
    )
    # members: shared prefix drawn from the GROUP seed, tail drawn from
    # the member's own doc_id (seed domains are disjoint: group ids are
    # < N_DUP_GROUPS, unique-doc seeds are >= N_DUP_GROUPS * GROUP, and
    # the tail draw carries a distinct literal discriminator)
    prefix = F.transform(
        F.sequence(F.lit(1), m - t),
        lambda i: _word(F.xxhash64(group, i)),
    )
    tail = F.transform(
        F.sequence(F.lit(1), t),
        lambda i: _word(F.xxhash64(F.col("doc_id"), i, F.lit(99))),
    )
    member_text = F.array_join(F.concat(prefix, tail), " ")
    # unique docs: 8..100 words from their own seed + a salt token so
    # no two are identical even on a hash coincidence
    seed = F.col("doc_id")
    n_words = (F.pmod(F.xxhash64(seed, F.lit(1)), F.lit(93)) + 8).cast("int")
    unique_words = F.transform(
        F.sequence(F.lit(1), n_words), lambda i: _word(F.xxhash64(seed, i))
    )
    unique_text = F.concat(
        F.array_join(unique_words, " "),
        F.lit(" u"),
        F.col("doc_id").cast("string"),
    )
    text = F.when(in_group, member_text).otherwise(unique_text)
    corpus = ids.select(
        "doc_id",
        text.alias("text"),
        F.element_at(
            F.array(*[F.lit(x) for x in ["fr", "es", "en", "de", "zh"]]),
            (F.pmod(F.xxhash64(F.col("doc_id"), F.lit(2)), F.lit(5)) + 1).cast(
                "int"
            ),
        ).alias("lang"),
        F.concat(
            F.lit("src"),
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(3)), F.lit(20)).cast(
                "string"
            ),
        ).alias("source"),
    ).withColumn("n_chars", F.length("text"))

    # reuse an existing landing when the row count matches: generation
    # is DETERMINISTIC (xxhash64 of doc_id only), so equal count means
    # equal corpus, and a 30M regeneration costs ~10 min per harness
    # invocation otherwise (the count reads parquet footers only)
    target = out / "documents.parquet"
    if (target / "_SUCCESS").exists():
        n = spark.read.parquet(str(target)).count()
        if n == n_docs:
            print(f"reusing {n} docs at {target}")
            return
    t0 = time.time()
    corpus.write.mode("overwrite").parquet(str(target))
    n = spark.read.parquet(str(target)).count()
    print(f"generated {n} docs in {time.time() - t0:.1f}s -> {out}")
    assert n == n_docs


class _RssHighWater:
    """Max resident-set high-water of this process's whole subtree
    (python driver + the launched JVM + pyspark workers), sampled every
    2 s in a daemon thread — the memory number a cluster capacity plan
    needs from a local run."""

    def __init__(self) -> None:
        import threading

        self.max_bytes = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _descendants(self) -> list[int]:
        import os

        pids, out = {os.getpid()}, [os.getpid()]
        try:
            for entry in os.listdir("/proc"):
                if not entry.isdigit():
                    continue
                try:
                    with open(f"/proc/{entry}/status") as f:
                        status = f.read()
                    ppid = int(status.split("PPid:\t", 1)[1].split("\n", 1)[0])
                except (OSError, IndexError, ValueError):
                    continue
                if ppid in pids:
                    pids.add(int(entry))
                    out.append(int(entry))
        except OSError:
            pass
        return out

    def _run(self) -> None:
        while not self._stop.wait(2.0):
            total = 0
            for pid in self._descendants():
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * 4096
                except (OSError, IndexError, ValueError):
                    continue
            self.max_bytes = max(self.max_bytes, total)

    def stop_gb(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        return self.max_bytes / 2**30


def main() -> None:
    n_docs = int(float(sys.argv[1])) if len(sys.argv) > 1 else N_DOCS
    run_curation = "--curation" in sys.argv or n_docs == N_DOCS
    out = REPO / ".scratch" / f"corpus{n_docs // 1000}k"
    out.mkdir(parents=True, exist_ok=True)
    spark = get_spark()  # local[$SPARK_GRAFT_CPUS], default 32
    build_corpus(spark, out, n_docs)
    n = n_docs

    qs = all_queries()
    rss = _RssHighWater()
    t0 = time.time()
    kept = qs["dd_dedup_final"].fn(spark, str(out)).count()
    t_dedup = time.time() - t0
    print(
        f"dd_dedup_final: {t_dedup:.1f}s ({n / t_dedup:,.0f} docs/s), "
        f"kept {kept}, subtree RSS high-water {rss.stop_gb():.1f} GiB"
    )
    # Tiered-corpus bounds: only the MERGEABLE_GROUPS tiers (J >= 0.5)
    # can merge, each collapsing at most 10 -> 1, and accidental
    # cross-group merges are impossible by construction (10,240-token
    # vocab; see module docstring) — so kept >= the floor exactly.
    # Banding misses add survivors above the floor — far more than the
    # per-pair 1-(1-J^r)^b ~ 0.23 formula suggests, because group-mates
    # share ONE prefix whose minhash minima correlate their signatures
    # (a member whose private-tail hash beats the shared min in every
    # band has no edge to ANY mate). The ideal-minhash Monte Carlo in
    # recall_model.py puts the expectation at ~2,790 ± 61 for 2,000
    # groups, n-independent (census-confirmed at 100k and 1M). 3,500 is
    # generous slack, not a model claim — recall_model.py is the 4-sigma
    # reconciliation.
    floor = n - MERGEABLE_GROUPS * (GROUP - 1)
    assert floor <= kept <= floor + 3500, (kept, floor)

    if run_curation:
        t0 = time.time()
        packed = qs["pipe_full_curation"].fn(spark, str(out)).count()
        t_cur = time.time() - t0
        print(
            f"pipe_full_curation: {t_cur:.1f}s ({n / t_cur:,.0f} docs/s), "
            f"{packed} rows"
        )


if __name__ == "__main__":
    main()
