#!/usr/bin/env python3
"""Compare two `graft.Verify` dump directories key by key.

Verify writes each key's result as parquet under `<dir>/<key>/`. The files
are not byte-reproducible (part-file names carry a random id, and the writer
lists a column chunk's encodings in no fixed order), so this compares what
the files say rather than their bytes:

  - row data, in file order (a key whose rows are equal only up to order is
    reported UNORDERED and still counts as equal);
  - the schema, including nullability and the key-value metadata (Spark's
    row schema and version);
  - each column chunk's metadata: physical type, compression, encodings
    (sorted), value count, statistics and sizes.

Usage: python3 scripts/compare_dumps.py <dir_a> <dir_b> [key ...]
Compares the named keys, or every key directory present in either dump.
Prints one line per key and a summary; exits 1 if any key differs.
"""
import math
import os
import sys

import pyarrow.parquet as pq


def part_files(key_dir):
    return sorted(os.path.join(key_dir, f) for f in os.listdir(key_dir)
                  if f.endswith(".parquet") and not f.startswith("."))


def norm(v):
    """NaN equals NaN; nested values compare element by element."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, norm(x)) for k, x in v.items())
    return v


def rows(files):
    out = []
    for f in files:
        t = pq.read_table(f)
        out.extend(tuple(norm(r[c]) for c in t.column_names) for r in t.to_pylist())
    return out


def chunk_meta(f):
    md = pq.ParquetFile(f).metadata
    groups = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        cols = []
        for c in range(rg.num_columns):
            cc = rg.column(c)
            st = cc.statistics
            stats = None if st is None else (
                st.has_min_max, norm(st.min) if st.has_min_max else None,
                norm(st.max) if st.has_min_max else None, st.null_count)
            cols.append((cc.path_in_schema, cc.physical_type, cc.compression,
                         tuple(sorted(cc.encodings)), cc.num_values, stats,
                         cc.total_compressed_size, cc.total_uncompressed_size))
        groups.append((rg.num_rows, tuple(cols)))
    return tuple(groups)


def compare(a_dir, b_dir):
    """(verdict, detail): SAME, UNORDERED (the same rows in another order;
    the chunk layout follows the order, so it is not compared) or DIFF."""
    fa, fb = part_files(a_dir), part_files(b_dir)
    if len(fa) != len(fb):
        return "DIFF", f"{len(fa)} vs {len(fb)} part files"
    for x, y in zip(fa, fb):
        sa, sb = pq.read_schema(x), pq.read_schema(y)
        if not sa.equals(sb, check_metadata=True):
            return "DIFF", f"schema differs:\n{sa}\n{sa.metadata}\nvs\n{sb}\n{sb.metadata}"
        if not pq.ParquetFile(x).schema.equals(pq.ParquetFile(y).schema):
            return "DIFF", "parquet schema differs"
    ra, rb = rows(fa), rows(fb)
    if ra != rb:
        if sorted(ra, key=repr) == sorted(rb, key=repr):
            return "UNORDERED", f"{len(ra)} rows"
        return "DIFF", f"row data differs ({len(ra)} vs {len(rb)} rows)"
    for x, y in zip(fa, fb):
        if chunk_meta(x) != chunk_meta(y):
            return "DIFF", f"column-chunk metadata differs in {os.path.basename(x)}"
    return "SAME", f"{len(ra)} rows"


def main(argv):
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    a, b = argv[1], argv[2]
    keys = argv[3:] or sorted(
        {k for d in (a, b) for k in os.listdir(d) if os.path.isdir(os.path.join(d, k))})
    differ = 0
    for k in keys:
        ka, kb = os.path.join(a, k), os.path.join(b, k)
        if os.path.isdir(ka) and os.path.isdir(kb):
            verdict, detail = compare(ka, kb)
        else:
            verdict, detail = "DIFF", f"missing in {b if os.path.isdir(ka) else a}"
        differ += verdict == "DIFF"
        print(f"{verdict} {k}: {detail}")
    print(f"== {len(keys) - differ} same / {differ} differ ==")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main(sys.argv)
