"""``curation``: the LLM data-curation batch job on a corpus that looks
like real text.

One pass clears the session memos, then runs the decision-table
pipeline and the three dedup joins over the seeded corpus. Each call's
result is collected, hashed and checked against the planted truth
outside the timed region."""

from __future__ import annotations

import hashlib
import json
import os
import sys

import corpus

N_DOCS = 120
CONTAINMENT_T = 0.8
JACCARD_T = 0.7
# prefix_filtered_pairs screens candidates with a MinHash band conjunct
# (8 bands of 4 minima), documented to miss a pair of Jaccard J with
# probability (1 - J^4)^8: up to 11% at J = 0.7. Its misses of planted
# pairs fail the check when one of them had a documented miss chance
# below FIRM, or when that many misses at the documented chances would
# happen less often than ALARM.
FIRM = 1e-5
ALARM = 1e-3

CALLS = [
    "pipeline.prepare_documents",
    "dedup.containment_pairs",
    "dedup.prefix_filtered_pairs",
    "dedup.incremental_band_dedup",
]


def rows_hash(rows) -> str:
    """Order-insensitive hash of a collected result."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def at_least(k: int, chances: list[float]) -> float:
    """P(at least ``k`` of independent events with these chances)."""
    dist = [1.0]  # dist[i] = P(exactly i so far)
    for p in chances:
        dist = [(dist[i] if i < len(dist) else 0.0) * (1 - p)
                + (dist[i - 1] * p if i > 0 else 0.0) for i in range(len(dist) + 1)]
    return sum(dist[k:])


class Curation:
    name = "curation"
    # a pass takes ~15 s on 4 vCPUs after a ~30 s cold warm-up, so one
    # measured pass keeps a run under a minute
    min_passes = 1

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.docs_path = ""
        # call -> {planted pair it must return: documented miss chance}
        self.required: dict[str, dict[tuple[int, int], float]] = {}
        self.expected_hash: dict[str, str] = {}
        self.file_hash = ""

    def make_inputs(self, out_dir: str) -> None:
        """Write the corpus and derive the pairs each join must return,
        by exact set similarity in pure Python over the planted pairs."""
        docs_path, truth_path, docs = corpus.write_corpus(out_dir, self.seed, N_DOCS)
        with open(docs_path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        if self.file_hash and digest != self.file_hash:
            raise RuntimeError("corpus generator is not deterministic for this seed")
        self.file_hash, self.docs_path = digest, docs_path
        with open(truth_path) as f:
            planted = json.load(f)["planted"]
        self.sets = {i: corpus.shingles(t) for i, t in docs}
        contain, jacc = set(), {}
        for p in planted:
            a, b = p["a"], p["b"]
            sa, sb = self.sets[a], self.sets[b]
            if corpus.containment(sa, sb) >= CONTAINMENT_T:
                contain.add((a, b))
            if corpus.containment(sb, sa) >= CONTAINMENT_T:
                contain.add((b, a))
            j = corpus.jaccard(sa, sb)
            if j >= JACCARD_T:
                jacc[(min(a, b), max(a, b))] = (1 - j**4) ** 8
        self.required = {
            "dedup.containment_pairs": {k: 0.0 for k in contain},
            "dedup.prefix_filtered_pairs": jacc,
        }

    def start(self, spark, state_dir: str) -> None:
        """Bind the calls to the corpus. Result hashes recorded by an
        earlier run with the same seed, if any, are what every pass
        must reproduce."""
        from df_spark import pipeline
        from df_spark.operators import dedup
        from df_spark.plans import memo

        self.memo = memo
        self.state_path = os.path.join(state_dir, f"curation-seed{self.seed}.json")
        if os.path.exists(self.state_path):
            with open(self.state_path) as f:
                self.expected_hash = json.load(f)
        docs = spark.read.parquet(self.docs_path)
        self.thunks = {
            "pipeline.prepare_documents": lambda: pipeline.prepare_documents(docs),
            "dedup.containment_pairs": lambda: dedup.containment_pairs(docs, CONTAINMENT_T),
            "dedup.prefix_filtered_pairs": lambda: dedup.prefix_filtered_pairs(docs, JACCARD_T),
            "dedup.incremental_band_dedup": lambda: dedup.incremental_band_dedup(docs),
        }

    def check(self, call: str, rows, ctx) -> str | None:
        """None when ``rows`` is a correct result of ``call``, else why not."""
        digest = rows_hash(rows)
        want = self.expected_hash.setdefault(call, digest)
        if digest != want:
            return "result differs from the first pass"
        need = self.required.get(call)
        if need is None:
            return None
        got = {(r[0], r[1]) for r in rows}
        if call == "dedup.prefix_filtered_pairs":
            got = {(min(a, b), max(a, b)) for a, b in got}
            wrong = [p for p in got if corpus.jaccard(self.sets[p[0]], self.sets[p[1]]) < JACCARD_T]
        else:
            wrong = [p for p in got if corpus.containment(self.sets[p[0]], self.sets[p[1]]) < CONTAINMENT_T]
        missed = {p: chance for p, chance in need.items() if p not in got}
        ctx.snapshot[f"{call}.planted_missed"] = float(len(missed))
        if wrong:
            return f"{len(wrong)} returned pairs are below the threshold, e.g. {wrong[0]}"
        if not missed:
            return None
        tail = at_least(len(missed), list(need.values()))
        if min(missed.values()) < FIRM or tail < ALARM:
            return (f"{len(missed)} of {len(need)} planted pairs missing (documented miss "
                    f"chances {sorted(missed.values())}, P(this many) = {tail:.2g})")
        print(f"note: {call} missed {len(missed)} planted pairs, within the documented "
              f"band-conjunct bound: {missed}", file=sys.stderr)
        return None

    def memo_counts(self) -> dict[str, float]:
        return {
            "memo.hits": float(sum(m.hits for m in self.memo.ALL_MEMOS)),
            "memo.misses": float(sum(m.misses for m in self.memo.ALL_MEMOS)),
            "memo.entries": float(sum(len(m) for m in self.memo.ALL_MEMOS)),
        }

    def run_pass(self, ctx) -> None:
        """One cold-memo pass: every call once, in order."""
        self.memo.clear_all_memos()
        for call in CALLS:
            rows, err = ctx.call(call, lambda c=call: self.thunks[c]().collect())
            if err is None:
                err = self.check(call, rows, ctx)
            ctx.record(call, err)
        ctx.snapshot.update(self.memo_counts())

    def warm_up(self, ctx) -> None:
        """One pass, counted in set-up: the JVM, code generation and
        Python workers are cold until then."""
        self.run_pass(ctx)

    def enough(self) -> bool:
        return True

    def begin_measure(self) -> None:
        pass

    def layers(self, pass_totals, tracer, self_times) -> dict[str, float]:
        return {}  # per-call rows and memo counts arrive through the context

    def finish(self, ctx) -> None:
        """Record this run's result hashes for later runs with the same
        seed, unless one is already recorded or a check failed."""
        if ctx.failed == 0 and not os.path.exists(self.state_path):
            with open(self.state_path, "w") as f:
                json.dump(self.expected_hash, f, sort_keys=True)
