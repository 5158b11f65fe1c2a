#!/usr/bin/env python3
"""Compare two graft.Verify output directories gate by gate: for every gate
directory in either tree, the schema (names, types, nullability) and the
sorted decoded rows must be equal exactly.

    python3 tools/compare_outputs.py <verifyOutA> <verifyOutB>

Exits non-zero and names each gate that is missing from one side or differs.
Decoded rows, not file bytes: parquet writers may order the encodings list
of a column chunk differently from run to run, so equal data can hash
differently."""
import glob, os, sys
import pyarrow as pa
import pyarrow.parquet as pq


def gates(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def load(gate_dir):
    """One gate's output as (schema, sorted rows), read the way
    check_oracle.py reads it: every part file of the directory."""
    files = sorted(glob.glob(f"{gate_dir}/*.parquet"))
    tables = [pq.read_table(f) for f in files]
    schema = tables[0].schema if tables else pa.schema([])
    fields = [(f.name, str(f.type), f.nullable) for f in schema]
    rows = [tuple(repr(r[c]) for c in schema.names)
            for t in tables for r in t.to_pylist()]
    return fields, sorted(rows)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.split("\n\n")[1])
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    a_gates, b_gates = gates(a_dir), gates(b_dir)
    bad = 0
    for gate in sorted(a_gates | b_gates):
        if gate not in a_gates or gate not in b_gates:
            side = a_dir if gate not in a_gates else b_dir
            print(f"[MISSING] {gate}: no output in {side}"); bad += 1; continue
        a_fields, a_rows = load(os.path.join(a_dir, gate))
        b_fields, b_rows = load(os.path.join(b_dir, gate))
        if a_fields != b_fields:
            print(f"[SCHEMA] {gate}: {a_fields} vs {b_fields}"); bad += 1; continue
        if a_rows != b_rows:
            diff = len(set(a_rows) ^ set(b_rows))
            print(f"[ROWS] {gate}: {len(a_rows)} vs {len(b_rows)} rows, "
                  f"{diff} distinct rows on one side only"); bad += 1; continue
        print(f"[SAME] {gate}: {len(a_rows)} rows")
    print("DIFFERENCES:", bad)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
