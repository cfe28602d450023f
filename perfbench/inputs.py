"""Seeded inputs. The program under test sees only what these produce; the
same seed always gives the same inputs.

- ``data/sf0.1/documents.parquet``: the engine's sf0.1 closed-vocabulary
  documents table (5,000 docs; the ``doc_id`` and ``text`` columns, which are
  all the pipeline reads), kept in the benchmark's directory so a run reads
  nothing outside its checkout. Workload seeds only pick batches from it and
  tag their doc ids (``corpus_batch``).
- ``data/sf0.001/documents.parquet``: the 500-doc sf0.001 table, the input of
  the engine's pinned pipeline fingerprint (the self-tests check it).
- ``synthetic_kg``: a typed knowledge graph whose predicate frequencies and
  entity degrees are Zipf-skewed, the input of the M1/M2/eMi learners.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
CORPUS_DIR = os.path.join(DATA_DIR, "sf0.1")
SF0001_DIR = os.path.join(DATA_DIR, "sf0.001")


def load_corpus(sf_dir: str = CORPUS_DIR) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))


def corpus_batch(corpus: pd.DataFrame, seed: int, batch: int, size: int) -> pd.DataFrame:
    """``size`` docs drawn by a (seed, batch)-keyed generator, with doc ids
    tagged ``<seed>-<batch>-<doc_id>`` so every batch is a new input to the
    engine (its span layout is hashed from the doc id)."""
    rng = np.random.default_rng([seed, batch])
    pick = np.sort(rng.choice(len(corpus), size, replace=False))
    out = corpus.iloc[pick]
    return pd.DataFrame(
        {
            "doc_id": [f"{seed}-{batch}-{d}" for d in out["doc_id"]],
            "text": out["text"].to_numpy(),
        }
    )


def synthetic_kg(
    n_facts: int,
    seed: int,
    n_preds: int = 40,
    n_types: int = 12,
    pred_zipf: float = 1.1,
    entity_zipf: float = 0.9,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``n_facts`` distinct (subj, pred, obj) facts over ``n_facts // 10``
    typed entities, and (entity, type) assertions: one type per entity and
    a second one for 30% of them."""
    rng = np.random.default_rng(seed)
    n_ents = max(n_facts // 10, 2)

    def zipf(n: int, s: float) -> np.ndarray:
        w = 1.0 / np.arange(1, n + 1) ** s
        return w / w.sum()

    # Entity ranks are shuffled so popularity is not ordered by id.
    ent_perm = rng.permutation(n_ents)
    facts = pd.DataFrame(columns=["s", "p", "o"], dtype=np.int64)
    draw = n_facts
    while len(facts) < n_facts:
        draw = int(draw * 1.5)
        more = pd.DataFrame(
            {
                "s": ent_perm[rng.choice(n_ents, draw, p=zipf(n_ents, entity_zipf))],
                "p": rng.choice(n_preds, draw, p=zipf(n_preds, pred_zipf)),
                "o": ent_perm[rng.choice(n_ents, draw, p=zipf(n_ents, entity_zipf))],
            }
        )
        facts = pd.concat([facts, more]).drop_duplicates()
    facts = facts.iloc[:n_facts]
    triples = pd.DataFrame(
        {
            "subj": "e" + facts["s"].astype(str),
            "pred": "p" + facts["p"].astype(str),
            "obj": "e" + facts["o"].astype(str),
        }
    ).reset_index(drop=True)

    ents = np.arange(n_ents)
    first = rng.integers(0, n_types, n_ents)
    two = ents[rng.random(n_ents) < 0.3]
    second = rng.integers(0, n_types, len(two))
    types = (
        pd.DataFrame(
            {
                "entity": np.concatenate([ents, two]),
                "type": np.concatenate([first, second]),
            }
        )
        .drop_duplicates()
        .sort_values(["entity", "type"])
    )
    types = pd.DataFrame(
        {"entity": "e" + types["entity"].astype(str), "type": "T" + types["type"].astype(str)}
    ).reset_index(drop=True)
    return triples, types
