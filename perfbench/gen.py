"""Seeded input generator for the benchmark.

The base tables in ``perfbench/fixtures`` are the engine's sf0.001 fixture
tables, copied verbatim. A generated input set is derived from them in two
steps, both driven only by ``--seed`` and ``--scale``:

1. a seeded row sample: each entity key (order, event, document)
   is kept with probability ``KEEP``, decided by a hash of (seed, key), so
   ``orders`` and ``lineitem`` keep exactly the same orders;
2. ``scale`` key-shifted replicas of the fact tables, the way ``stress.py``
   grows a replica: every copy shifts its key columns by ``copy * SHIFT``,
   so entity cardinality grows with the data instead of deepening skew.

Dimension tables (region, nation, supplier, part) are copied unchanged.
Documents are sampled but never replicated: a replica of a document is an
exact duplicate of it, which would turn every document into a near-dup
cluster and change the shape of the curation graphs.

The program only ever sees the written parquet. Same seed and scale give
identical table contents (checked by :func:`content_hash`).

    python3 perfbench/gen.py --seed 1 --out /path/to/inputs [--scale 12]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
)
KEEP = 0.9
SCALE = 12
SHIFT = 10_000_000  # larger than every base key, so replicas never collide

# table -> (sample key column, sample domain, replicated key columns or None)
# Tables sharing a sample domain keep the same keys (orders <-> lineitem).
PLAN: dict[str, tuple[str | None, str | None, tuple[str, ...] | None]] = {
    "region": (None, None, None),
    "nation": (None, None, None),
    "supplier": (None, None, None),
    "part": (None, None, None),
    "customer": (None, None, ("c_custkey",)),
    "orders": ("o_orderkey", "order", ("o_orderkey", "o_custkey")),
    "lineitem": ("l_orderkey", "order", ("l_orderkey",)),
    "events": ("event_id", "event", ("event_id", "user_id")),
    "documents": ("doc_id", "doc", None),
}


def _unit(seed: int, domain: str, keys: np.ndarray) -> np.ndarray:
    """Uniform [0, 1) per key: splitmix64 of the key xor a (seed, domain) salt."""
    salt = int.from_bytes(hashlib.sha256(f"{seed}:{domain}".encode()).digest()[:8], "little")
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) ^ np.uint64(salt)
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def derive(name: str, base: pa.Table, seed: int, scale: int) -> pa.Table:
    """One generated table from its base fixture table."""
    key, domain, shifted = PLAN[name]
    out = base
    if key is not None:
        keep = _unit(seed, domain, base[key].to_numpy()) < KEEP
        out = out.filter(pa.array(keep))
    if shifted is None or scale <= 1:
        return out
    copies = []
    for copy in range(scale):
        t = out
        for col in shifted:
            i = t.schema.get_field_index(col)
            moved = pc.add(t[col], pa.scalar(copy * SHIFT, t.schema.field(col).type))
            t = t.set_column(i, t.schema.field(col), moved)
        copies.append(t)
    return pa.concat_tables(copies)


def generate(seed: int, out_dir: str, scale: int = SCALE) -> dict[str, int]:
    """Write every generated table to ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        table = derive(name, pq.read_table(os.path.join(FIXTURES, f"{name}.parquet")), seed, scale)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def content_hash(in_dir: str) -> str:
    """sha256 over the logical content (schema + rows) of every table."""
    h = hashlib.sha256()
    for name in TABLES:
        table = pq.read_table(os.path.join(in_dir, f"{name}.parquet"))
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema.remove_metadata()) as w:
            w.write_table(table.replace_schema_metadata(None))
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=int, default=SCALE)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    rows = generate(args.seed, args.out, args.scale)
    print(json.dumps({"seed": args.seed, "scale": args.scale, "rows": rows,
                      "sha256": content_hash(args.out)}))


if __name__ == "__main__":
    main()
