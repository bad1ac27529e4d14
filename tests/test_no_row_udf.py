"""Policy gate from BASELINE input_hint: vectorized pandas/Arrow UDFs only,
never per-row Python UDFs. Greps the package source (SURVEY §7)."""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "dupers_spark"


def test_no_row_at_a_time_udf():
    offenders = []
    for py in PKG.rglob("*.py"):
        src = py.read_text()
        # F.udf( / @udf / udf( but not pandas_udf
        for m in re.finditer(r"(?<!pandas_)\budf\s*\(", src):
            offenders.append(f"{py}:{src[:m.start()].count(chr(10)) + 1}")
    assert not offenders, f"row-at-a-time UDFs found: {offenders}"


def test_no_collect_in_operators():
    """Operators must stay distributed — driver-side .collect() loops are
    forbidden in the operator layer (allowed in tests/bench only).
    Sanctioned uses: connected_components' convergence aggregate
    (components.py), four bounded collects in ann.py —
    brute_force_topk_np's probe matrix (small by contract, broadcast),
    ivf_centroids' hash-ordered LIMIT-``sample`` training rows,
    ivf_topk's probe matrix (same contract as brute_force_topk_np), and
    ivf_index_centroids' k-row centroid-table read — and
    build_suffix_index's one-row Σ octet_length sizing aggregate,
    append_suffix_index's one-row max-shard-id aggregate, and
    surviving_shards' term-routing id list (search.py — shard_id ints
    only, from a column-pruned 16 KiB/shard filter scan; the list IS the
    pruned probe set, and a selective term keeps it small by design);
    prune_index_by_kb's touched-partition collect (minhash_lsh.py) is
    ≤ KB_PARTITIONS=64 ints by construction (distinct of key & 63), the
    literal isin list that makes the bucket-stage scan partition-prune;
    and incremental_components_delta's contracted-graph fetch
    (components.py) — a limit(threshold + 1) collect over the CONTRACTED
    batch graph, which is O(batch) by construction; over-threshold batches
    take the distributed star loop, so no corpus-sized frame can reach
    the driver."""
    # exact expected counts, not whole-file exemptions: a NEW collect added
    # to these files must fail this gate until adjudicated here
    allowed_counts = {"components.py": 2, "ann.py": 4, "search.py": 3,
                      "minhash_lsh.py": 1}
    offenders = []
    for py in (PKG / "operators").glob("*.py"):
        n = py.read_text().count(".collect()")
        if n > allowed_counts.get(py.name, 0):
            offenders.append(f"{py.name}: {n} collect() calls "
                             f"(allowed {allowed_counts.get(py.name, 0)})")
    assert not offenders, offenders
