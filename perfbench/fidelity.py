"""Compare the benchmark's generated input tables with a reference set of
the same ten tables (for example the engine's sf0.01 test tables).

    python3 perfbench/fidelity.py REFERENCE_DIR

For every table it prints the row count and whether the schemas are
equal, then one line per column: null share and distinct count, plus
min / mean / max for numbers and the mean length for strings. Documents
add the vocabulary, token-count quartiles and the near-duplicate marker
share; embeddings add the dimension, label count and the mean cosine of
each vector to its label's centroid. Generated and reference values sit
side by side as ``generated | reference``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402


def column_stats(col: pa.ChunkedArray) -> dict:
    out = {"null": col.null_count / max(len(col), 1)}
    if pa.types.is_list(col.type):
        return out
    out["distinct"] = len(pc.unique(col))
    if pa.types.is_string(col.type):
        out["mean_len"] = pc.mean(pc.utf8_length(col)).as_py()
    elif pa.types.is_timestamp(col.type):
        out["min"], out["max"] = (str(v.as_py())[:10] for v in pc.min_max(col).values())
    else:
        lo, hi = pc.min_max(col).values()
        out.update(min=lo.as_py(), mean=pc.mean(col).as_py(), max=hi.as_py())
    return out


def document_stats(t: pa.Table) -> dict:
    texts = t.column("text").to_pylist()
    tokens = [s.split() for s in texts]
    lens = np.array([len(w) for w in tokens])
    return {
        "vocab": len({w for ws in tokens for w in ws}),
        "tokens_q1_q2_q3": tuple(np.percentile(lens, [25, 50, 75]).round(1)),
        "dup_marker_share": round(float(np.mean([ws[-1:] == ["dup"] for ws in tokens])), 4),
        "exact_duplicates": len(texts) - len(set(texts)),
    }


def embedding_stats(t: pa.Table) -> dict:
    vec = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    label = np.array(t.column("label").to_pylist())
    cos = []
    for lab in np.unique(label):
        v = vec[label == lab]
        c = v.mean(axis=0)
        cos.append((v @ c) / (np.linalg.norm(v, axis=1) * np.linalg.norm(c)))
    return {
        "dim": vec.shape[1],
        "labels": len(np.unique(label)),
        "mean_norm": round(float(np.linalg.norm(vec, axis=1).mean()), 4),
        "cos_to_centroid": round(float(np.concatenate(cos).mean()), 4),
    }


def fmt(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    ref_dir = argv[0]
    gen = datagen.build_tables()
    for name in datagen.TABLES:
        g, r = gen[name], pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        print(f"{name}: rows {g.num_rows} | {r.num_rows}  same schema {g.schema.equals(r.schema)}")
        for col in g.column_names:
            if col not in r.column_names:
                continue
            gs, rs = column_stats(g.column(col)), column_stats(r.column(col))
            print(f"  {col:16s} " + "  ".join(
                f"{k} {fmt(gs[k])} | {fmt(rs.get(k))}" for k in gs))
        extra = {"documents": document_stats, "embeddings": embedding_stats}.get(name)
        if extra:
            gs, rs = extra(g), extra(r)
            print("  " + "  ".join(f"{k} {fmt(gs[k])} | {fmt(rs[k])}" for k in gs))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
