#!/usr/bin/env python
"""Generate VALUES-literal DuckDB oracles for the gates whose Spark
implementations are genuinely non-SQL-expressible (iterative k-means,
murmur3/lookup3 hashing, binary codecs, gram-DP distances).

Their outputs are DETERMINISTIC, so the oracle can pin the expected
rows outright: for each gate we run the Spark implementation once per
scale factor and emit

    SELECT ... FROM (VALUES ...) t(cols) WHERE (SELECT count(*) FROM
    lineitem) = <sf discriminator>  UNION ALL  ... next sf ...

The lineitem cardinality (6000 / 60000 / 600000) discriminates the
driver's sf0.001 / sf0.01 / sf0.1 dirs, so one oracle string is valid
at every scale the gates run at. Independent pytest oracles (numpy
k-means twin, reference C hash vectors, analytic PNG/WAV pins) justify
the pinned values; this file only makes them driver-legible so every
gate gets the full rows+schema+hash check instead of rows-only.

Output: lucene_solr_spark/oracle_pins.py  (PINS: dict[gate, sql]).
Regenerate after any change to the pinned gates:
    python tools/pin_oracles.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# gate -> True when the output is derived from doc_id/vec_id arithmetic
# only (synthesized media), hence identical at every sf: pin once.
PINNED_GATES = {
    "check_index": False,
    "doc_routing": False,
    "signature_lookup3": False,
    "image_features": True,
    "image_features_jpeg": True,
    "video_frames": True,
    "audio_features": True,
    "knn_ivf_kmeans": False,
    "result_clustering": False,
    "spellcheck_ngram": False,
    "phonetic_metaphone_freq": False,
    "phonetic_dmetaphone_freq": False,
    "bpe_train": False,
    "bpe_tokens": False,
    "quality_lr_train": False,
    "quality_lr_filter": False,
}

SF_DIRS = {
    6000: "/root/testdata/sf0.001",
    60000: "/root/testdata/sf0.01",
    600000: "/root/testdata/sf0.1",
}

_DUCK_TYPES = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "integer": "INTEGER",
    "smallint": "SMALLINT",
    "double": "DOUBLE",
    "float": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
}


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, int):
        return str(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _values_block(rows, cols, types) -> str:
    tuples = ",\n".join(
        "(" + ",".join(_lit(r[c]) for c in cols) + ")" for r in rows
    )
    alias = ",".join(f'"{c}"' for c in cols)
    casts = ",".join(
        f'CAST("{c}" AS {types[c]}) AS "{c}"' for c in cols
    )
    return f"SELECT {casts} FROM (VALUES\n{tuples}\n) t({alias})"


def requested_gates(argv: list[str]) -> set[str]:
    """The gate subset named on argv. Any name that is not a pinned
    gate exits non-zero, listing the names, before a pin is touched —
    re-pinning a subset keeps only the OTHER gates' pins, so an unknown
    name would otherwise silently drop its existing pin."""
    only = set(argv)
    unknown = sorted(only - set(PINNED_GATES))
    if unknown:
        sys.exit(
            f"not pinned gates: {' '.join(unknown)}\n"
            f"pinned gates: {' '.join(PINNED_GATES)}"
        )
    return only


def main() -> None:
    # optional argv subset: re-pin only the named gates, keep the rest
    # of the existing PINS verbatim (fast iteration on one gate)
    only = requested_gates(sys.argv[1:])

    from lucene_solr_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    pins: dict[str, str] = {}
    if only:
        from lucene_solr_spark.oracle_pins import PINS as _existing

        pins.update({k: v for k, v in _existing.items() if k not in only})
    todo = {
        n: inv
        for n, inv in PINNED_GATES.items()
        if not only or n in only
    }
    for name, sf_invariant in todo.items():
        branches = []
        for disc, sf_dir in SF_DIRS.items():
            df = qs[name](spark, sf_dir)
            cols = df.columns
            types = {
                f.name: _DUCK_TYPES[f.dataType.simpleString()]
                for f in df.schema.fields
            }
            rows = [r.asDict() for r in df.collect()]
            block = _values_block(rows, cols, types)
            if sf_invariant:
                branches = [block]
                break
            branches.append(
                f"SELECT * FROM ({block}) b{disc}\n"
                f"WHERE (SELECT count(*) FROM lineitem) = {disc}"
            )
            print(f"  {name} @ {sf_dir}: {len(rows)} rows")
        pins[name] = "\nUNION ALL\n".join(branches)
        print(f"pinned {name}")

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "lucene_solr_spark",
        "oracle_pins.py",
    )
    with open(out, "w") as f:
        f.write(
            '"""GENERATED by tools/pin_oracles.py — VALUES-literal DuckDB\n'
            "oracles for the non-SQL-expressible gates (deterministic\n"
            "outputs pinned per scale factor; lineitem cardinality is the\n"
            "sf discriminator). Do not edit by hand; regenerate with\n"
            "`python tools/pin_oracles.py` after changing a pinned gate.\n"
            '"""\n\n'
        )
        f.write("PINS: dict[str, str] = {\n")
        for name, sql in pins.items():
            f.write(f"    {name!r}: '''\\\n{sql}''',\n")
        f.write("}\n")
    print(f"wrote {out} ({os.path.getsize(out)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
