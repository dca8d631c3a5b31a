"""Correctness checks on each operation's output. Pure functions over
plain Python/NumPy data, so the self-test can corrupt an output and
confirm the check fails. Each returns a list of problems; empty = pass."""

import hashlib
from datetime import datetime

import numpy as np

from pdf_extraction_spark.kernels.rerank import weighted_score
from pdf_extraction_spark.operators.embed import embed_text

AS_OF = "2025-05-01"
# rag_search rounds the weighted score to 4 decimals, so two chunks whose
# reference scores lie within one rounding step may legally swap ranks
SCORE_TOL = 2e-4


def check_ingest(texts: dict, lineage_doc_count: int, digests: dict):
    """texts: url → committed text; digests: url → sha256 of the kernel
    text. Byte identity per url, and lineage counts every page once."""
    problems = []
    if set(texts) != set(digests):
        problems.append(
            f"url set differs: {len(set(digests) - set(texts))} missing, "
            f"{len(set(texts) - set(digests))} unexpected"
        )
    bad = [
        u for u, t in texts.items()
        if u in digests
        and hashlib.sha256((t or "").encode("utf-8")).hexdigest() != digests[u]
    ]
    if bad:
        problems.append(f"{len(bad)} urls differ from the kernel text, e.g. {bad[0]}")
    if lineage_doc_count != len(digests):
        problems.append(f"lineage doc_count {lineage_doc_count} != {len(digests)} pages")
    return problems


def check_curate(surviving_urls, clusters):
    """Exactly one member of each planted cluster (base, exact and near
    copies) survives; so every planted exact duplicate but one is gone."""
    surviving = set(surviving_urls)
    problems = []
    for i, c in enumerate(clusters):
        members = [c["base"], *c["exact"], *c["near"]]
        kept = [u for u in members if u in surviving]
        if len(kept) != 1:
            problems.append(f"cluster {i}: {len(kept)} of {len(members)} members survive")
    return problems


def near_recall(surviving_urls, clusters):
    """Planted near duplicates dropped ÷ near duplicates that should be
    dropped. A near copy that is its cluster's one survivor is the
    representative, not a miss, so it is left out of both counts."""
    surviving = set(surviving_urls)
    dropped = expected = 0
    for c in clusters:
        kept = [u for u in (c["base"], *c["exact"], *c["near"]) if u in surviving]
        rep = kept[0] if len(kept) == 1 else None
        near = [u for u in c["near"] if u != rep]
        expected += len(near)
        dropped += sum(u not in surviving for u in near)
    return dropped / expected if expected else 0.0


class RagReference:
    """NumPy reference of rag_search over the stored chunks table:
    cosine against operators.embed.embed_text, reranked with
    kernels.rerank.weighted_score."""

    def __init__(self, chunks: dict):
        keep = [i for i, e in enumerate(chunks["embedding"]) if e is not None]
        self.ids = [chunks["chunk_id"][i] for i in keep]
        self.company = np.array([(chunks["company"][i] or "").upper() for i in keep])
        self.dates = [chunks["date"][i] for i in keep]
        self.quality = [chunks["quality_score"][i] for i in keep]
        self.emb = np.array([chunks["embedding"][i] for i in keep], dtype=float)
        self.norm = np.linalg.norm(self.emb, axis=1)
        self.as_of = datetime.fromisoformat(AS_OF)

    def scores(self, question: str, company):
        """[(chunk_id, reference score)] of every eligible chunk. Chunk ids
        are not unique (the engine's id hashes a 50-char content prefix),
        so rows are kept apart."""
        qv = np.array(embed_text(question), dtype=float)
        denom = self.norm * np.linalg.norm(qv)
        sim = np.where(denom == 0, 0.0, (self.emb @ qv) / np.where(denom == 0, 1, denom))
        idx = np.arange(len(self.ids))
        if company:
            idx = idx[self.company == company.upper()]
        return [
            (self.ids[i], weighted_score(round(float(sim[i]), 6), self.dates[i], self.as_of, self.quality[i])[0])
            for i in idx
        ]

    def check(self, question: str, company, got, k: int = 5):
        """got: the engine's [(chunk_id, weighted_score)] in rank order.
        Rank by rank, the engine's score equals the reference top-k score,
        and its chunk is an eligible chunk with that reference score, both
        within one rounding step."""
        ref = self.scores(question, company)
        want = sorted(ref, key=lambda r: (-round(r[1], 4), r[0]))[:k]
        if len(got) != len(want):
            return [f"{len(got)} results, reference has {len(want)}"]
        by_id = {}
        for cid, score in ref:
            by_id.setdefault(cid, []).append(score)
        for rank, ((cid, score), (wid, wscore)) in enumerate(zip(got, want)):
            if abs(score - wscore) > SCORE_TOL:
                return [f"rank {rank}: score {score} ({cid}) vs reference {wscore} ({wid})"]
            if not any(abs(score - s) <= SCORE_TOL for s in by_id.get(cid, [])):
                return [f"rank {rank}: {cid} is not an eligible chunk with score {score}"]
        return []
