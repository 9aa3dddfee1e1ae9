"""Seeded inputs for the benchmark workloads, built from the committed fixtures.

``fixtures/sf0.01/documents.parquet`` and ``fixtures/sf0.1/documents.parquet``
are byte copies of the ``documents`` table of the sf0.01 and sf0.1 test
fixtures (FIXTURES.md part B), so the benchmark needs nothing outside its
checkout. A workload's input is a k-times *disjoint* replica of the first
``base_docs`` documents of one of them, made with
``deploy/gen_scale_replica.py``'s own rewrite (imported, not copied): copy
``c`` suffixes every token with ``qc<base26(c)>`` and shifts ids by
``c * STRIDE``, so no token is shared across copies and the vocabulary grows
k-fold.

The seed shifts every document id by a multiple of ``k * STRIDE``, which
moves the rows across Spark's hash partitions. It keeps the shape: document count,
vocabulary, character count, the modulo samples the queries take (STRIDE
is divisible by every sampling modulus) and the near-duplicate structure.
The token strings are fixed because MinHash hashes them: other suffixes
give another LSH candidate graph, with another number of components
rounds, and moved warm pass times by 17 % between seeds. Every directory
is stamped with its parameters, its shape and the digest of its file; a
directory whose stamp does not match is refused rather than reused.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path
from typing import NamedTuple

import duckdb

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
FIXTURES = BENCH / "fixtures"
sys.path.insert(0, str(ROOT / "deploy"))
import gen_scale_replica  # noqa: E402

GENERATOR_VERSION = 3
FIRST_COPY = 26  # copy 0 is the unsuffixed fixture; 26 is the first "qcba"
SEED_SLOTS = 1000


class Spec(NamedTuple):
    source: str  # fixture directory under fixtures/
    base_docs: int  # documents with doc_id < base_docs are replicated
    k: int  # disjoint copies
    strategy: str  # title_best_abstract's expected auto strategy, or "none"


def id_offset(k: int, seed: int) -> int:
    return (1 + seed % SEED_SLOTS) * k * gen_scale_replica.STRIDE


def _digest(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def shape(con, docs_path: Path) -> dict:
    docs, vocab, chars, dup_docs = con.execute(
        rf"""SELECT (SELECT count(*) FROM '{docs_path}'),
                    (SELECT count(DISTINCT t) FROM
                       (SELECT unnest(string_split(text, ' ')) AS t FROM '{docs_path}')),
                    (SELECT sum(n_chars) FROM '{docs_path}'),
                    (SELECT count(*) FROM '{docs_path}'
                     WHERE regexp_matches(text, '(^| )dup\w*($| )'))"""
    ).fetchone()
    return {"docs": docs, "vocab": vocab, "chars": int(chars), "dup_docs": dup_docs}


def build(out_dir: Path, spec: Spec, seed: int) -> dict:
    """Write ``out_dir/documents.parquet`` and its stamp; return the stamp.

    An existing directory is reused only when its stamp matches these
    parameters and its file still has the stamped digest.
    """
    fixture = FIXTURES / spec.source / "documents.parquet"
    params = {
        "generator": GENERATOR_VERSION,
        "seed": seed,
        "source": spec.source,
        "source_sha256": _digest(fixture),
        "base_docs": spec.base_docs,
        "k": spec.k,
        "copies": list(range(FIRST_COPY, FIRST_COPY + spec.k)),
        "id_offset": id_offset(spec.k, seed),
        "expected_strategy": spec.strategy,
    }
    stamp_path = out_dir / "stamp.json"
    docs_path = out_dir / "documents.parquet"
    if stamp_path.exists():
        stamp = json.loads(stamp_path.read_text())
        if {key: stamp.get(key) for key in params} != params or (
            not docs_path.exists() or _digest(docs_path) != stamp.get("sha256")
        ):
            raise SystemExit(
                f"stale input directory {out_dir}: its stamp does not match "
                f"{params}; delete it to regenerate"
            )
        return stamp
    # gen_scale_replica reads '<src>/documents.parquet'
    base = out_dir / "base"
    base.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(
            f"COPY (SELECT * FROM '{fixture}' WHERE doc_id < {spec.base_docs} "
            f"ORDER BY doc_id) TO '{base}/documents.parquet' (FORMAT PARQUET)"
        )
        sql = " UNION ALL ".join(
            gen_scale_replica._copy_sql("documents", c, str(base)) for c in params["copies"]
        )
        con.execute(
            f"COPY (SELECT * REPLACE (doc_id + {params['id_offset']} AS doc_id) "
            f"FROM ({sql}) ORDER BY doc_id) TO '{docs_path}' (FORMAT PARQUET)"
        )
        stamp = dict(params, **shape(con, docs_path), sha256=_digest(docs_path))
    finally:
        con.close()
    (base / "documents.parquet").unlink()
    base.rmdir()
    stamp_path.write_text(json.dumps(stamp, sort_keys=True) + "\n")
    return stamp
