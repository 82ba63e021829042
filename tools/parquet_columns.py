#!/usr/bin/env python3
"""Per-column size and encodings of a Parquet store.

    python3 tools/parquet_columns.py <dir>      # or: make parquet-columns DIR=<dir>

Reads the footer of every `*.parquet` file under <dir> (recursively, so a
Hive-partitioned store works as is) through DuckDB's `parquet_metadata`
and prints one line per column, largest first: compressed bytes, share of
the store's compressed bytes, uncompressed bytes, how many column chunks
carry a dictionary page, and the encodings seen. Partition columns live in
directory names, not in the files, so they do not appear.
"""
import sys
from pathlib import Path

import duckdb


def columns(root):
    glob = str(Path(root) / "**" / "*.parquet")
    return duckdb.sql(f"""
        SELECT path_in_schema,
               sum(total_compressed_size) AS compressed,
               sum(total_uncompressed_size) AS uncompressed,
               count(dictionary_page_offset) AS dict_chunks,
               count(*) AS chunks,
               string_agg(DISTINCT encodings, ' | ' ORDER BY encodings) AS encodings
        FROM parquet_metadata('{glob.replace("'", "''")}')
        GROUP BY path_in_schema
        ORDER BY compressed DESC, path_in_schema
    """).fetchall()


def main():
    if len(sys.argv) != 2 or not sys.argv[1]:
        sys.exit(__doc__)
    root = sys.argv[1]
    if not any(Path(root).rglob("*.parquet")):
        sys.exit(f"no .parquet files under {root}")
    rows = columns(root)
    total = sum(r[1] for r in rows)
    width = max(len("column"), *(len(r[0]) for r in rows))
    print(f"{'column':<{width}}  {'compressed B':>12}  {'share':>6}  {'uncompr. B':>12}  {'dict':>9}  encodings")
    for name, comp, uncomp, dicts, chunks, enc in rows:
        print(f"{name:<{width}}  {comp:>12,}  {comp / total:>6.1%}  {uncomp:>12,}  "
              f"{f'{dicts}/{chunks}':>9}  {enc}")
    print(f"{'total':<{width}}  {total:>12,}  {1:>6.1%}")


if __name__ == "__main__":
    main()
