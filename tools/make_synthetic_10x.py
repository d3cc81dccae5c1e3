"""Build the synthetic Nx documents + embeddings corpus used for beyond-sf0.1 scaling
probes (SCALE.md round-4 notes): each copy is caesar-rotated per copy index,
which preserves text length, gram structure, and the within-copy similarity
profile while making copies mutually disjoint — so a 10x corpus scales the
work without changing the near-dup density (a naive copy, or copy with
word-prefix salting, makes char-shingle copies MORE self-similar and turns
the probe output-bound).

Per-copy shift is ``(7*g) % 26`` (7 coprime to 26, so all shifts are
distinct for g < 26). Copies 26+ (the 100x probe, VERDICT_r6 item 4) use
seeded-PRNG alphabet PERMUTATIONS instead: any bijection on the alphabet
preserves the within-copy shingle structure EXACTLY (n-gram sets map
bijectively, so every within-copy Jaccard is unchanged), while two
independent random permutations agree on ~1 letter in expectation — a
char shingle survives across copies only if the permutations agree on
every letter it contains, so cross-copy similarity stays negligible.
Permutations are drawn from random.Random(g) per copy index: fully
deterministic, and re-running with more copies extends the corpus without
changing earlier copies. Each copy's full 26-char mapping is materialized
Python-side (the previous ``substr(rot||rot, g, 26)`` ran out of
characters past g=27 and silently made translate() DELETE characters).
Only lowercase maps — the synthetic corpus is lowercase prose, and
mapping digits/punct would change the tokenizer's word boundaries. The
doc_id stride is derived from ``max(doc_id)+1`` of the source, not
hardcoded to the sf0.1 corpus size.

Usage: python tools/make_synthetic_10x.py [src_dir] [out_dir] [copies]
       (defaults: /root/testdata/sf0.1 /tmp/sfbig 10)

Probe a registered query at 1x and 10x with tools/isolate.py (fresh
session, warm-up, noop-sink runs, release sweep between runs, per-stage
ledger per dir):
    python tools/isolate.py QUERY --sf /root/testdata/sf0.1 /tmp/sfbig
"""

from __future__ import annotations

import os
import sys

import duckdb

_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _rot(shift: int) -> str:
    return "".join(chr((ord(c) - 97 + shift) % 26 + 97) for c in _ALPHA)


def _mapping(g: int) -> str:
    """Copy g's alphabet image: caesar rotation for g < 26 (bit-identical
    to the original 10x outputs), seeded random permutation beyond."""
    if g < 26:
        return _rot((7 * g) % 26)
    import random

    chars = list(_ALPHA)
    random.Random(g).shuffle(chars)
    return "".join(chars)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfbig"
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    if copies < 1:
        raise SystemExit("copies must be >= 1")
    stride = duckdb.sql(
        f"SELECT max(doc_id) + 1 FROM read_parquet('{src}/documents.parquet')"
    ).fetchone()[0]
    rot_rows = ", ".join(
        f"({g}, '{_mapping(g)}')" for g in range(copies)
    )
    os.makedirs(out, exist_ok=True)
    duckdb.sql(f"""
    COPY (
      SELECT d.doc_id + {stride} * CAST(g.g AS BIGINT) AS doc_id,
             CASE WHEN g.g = 0 THEN d.text
                  ELSE translate(d.text, '{_ALPHA}', g.rotstr)
             END AS text,
             d.lang, d.source, d.n_chars
      FROM read_parquet('{src}/documents.parquet') d,
           (VALUES {rot_rows}) AS g(g, rotstr)
    ) TO '{out}/documents.parquet' (FORMAT parquet)
    """)
    n, chars = duckdb.sql(
        f"SELECT count(*), sum(n_chars) FROM '{out}/documents.parquet'"
    ).fetchall()[0]
    print(f"{out}/documents.parquet: {n} docs, {chars} chars "
          f"(stride {stride}, {copies} copies)")

    # embeddings Nx: per-copy deterministic per-dimension SIGN FLIPS —
    # norms and within-copy distances are exactly preserved (so the
    # density/recall profile of each copy matches the source) while
    # copies land in different octants, spreading over ANN buckets like
    # genuinely new content instead of piling into the same ones.
    vstride = duckdb.sql(
        f"SELECT max(vec_id) + 1 FROM '{src}/embeddings.parquet'"
    ).fetchone()[0]
    duckdb.sql(f"""
    COPY (
      SELECT e.vec_id + {vstride} * CAST(g.g AS BIGINT) AS vec_id,
             CASE WHEN g.g = 0 THEN e.embedding
                  ELSE list_transform(
                         e.embedding,
                         (x, i) -> x * CAST(CASE WHEN
                             hash(g.g * 131 + i) % 2 = 0
                             THEN 1 ELSE -1 END AS FLOAT))
             END AS embedding,
             e.label
      FROM '{src}/embeddings.parquet' e,
           range({copies}) AS g(g)
    ) TO '{out}/embeddings.parquet' (FORMAT parquet)
    """)
    nv = duckdb.sql(
        f"SELECT count(*) FROM '{out}/embeddings.parquet'"
    ).fetchone()[0]
    print(f"{out}/embeddings.parquet: {nv} vectors "
          f"(stride {vstride}, {copies} copies)")


if __name__ == "__main__":
    main()
