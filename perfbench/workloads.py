"""Inputs, timed operations and correctness checks of the two workloads.

Both workloads drive the same four user operations, closed loop from one
client (each operation starts after the previous one returns):

  build     dedup_up:   DedupPipeline.run, normal mode (decode + every
                        full-build kernel), on the corpus minus the held-out
                        append rows
            search_mix: build_suffix_index over the same rows' captions,
                        written as a stage
  append    dedup_up:   DedupPipeline.run_incremental of one ~1% batch
            search_mix: append_suffix_index of one ~1% batch
  query     dedup_up:   lookup of seeded ids in the assignment frame that
                        run_incremental returned
            search_mix: query_suffix_index of one seeded term, routed
                        by the shards' trigram filters
  maintain  maintain_warehouse (dedup_up: once at the end, folding the
            components delta; search_mix: at the end of each of its two
            cycles, compacting the append-accreted suffix-array shards)

A failed check counts against the operation it checks, so ``failed`` never
exceeds ``attempted``.

Inputs are datagen's planted-truth rows ``offset .. offset + ROWS - 1``;
the seed picks the offset (a multiple of 10, so every group is whole and
the closed-form truth below holds), the append batches, the lookup ids and
the query terms. The program only ever sees the generated parquet table.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

ROWS = 3000
BRIDGE_GROUPS = 10           # dedup_up batch: groups whose r3 is held out
WHOLE_GROUPS = 2             # dedup_up batch: groups held out entirely
LOOKUPS = 10                 # timed lookups after the append
LOOKUP_IDS = 8
SEARCH_BATCHES = 4           # append_suffix_index batches per search_mix run
SEARCH_BATCH_ROWS = 30
SEARCH_CYCLES = 2           # build → query stream + appends → maintain
MIN_QUERIES = 5             # timed queries per cycle, whatever --seconds
WARMUP_QUERIES = 3          # untimed queries before the first stream
CHECK_QUERIES = 2           # untimed queries after each maintain
SETUP_REPEATS = 3
SA_STAGE = "captions_sa"


def image_id(i: int) -> str:
    from dupers_spark.sources.datagen import _image_id

    return _image_id(i)


def row_offset(seed: int) -> int:
    """First row index of a seed's corpus: a multiple of 10 ≥ 10 (row 7,
    datagen's zero-byte payload, is never included)."""
    rng = np.random.default_rng([seed, 1])
    return 10 * int(rng.integers(1, 900_000))


# ------------------------------------------------------------------ inputs

def generate_inputs(cache_dir: str, seed: int) -> str:
    """Parquet table of the seed's ROWS rows, cached by (fixture version,
    seed, ROWS) so a seed's inputs are generated once per checkout.

    Rows come from datagen's row function, written with pyarrow in the
    driver process: no Spark job runs before the measured ones, so JIT and
    Python-worker warm-up are the same whether or not the cache hit. One
    file per core (at least 4), as datagen.make_images partitions: Spark
    reads each small file as one input partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dupers_spark.sources import datagen

    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"images_v{datagen.FIXTURE_VERSION}"
                                   f"_s{seed}_n{ROWS}.parquet")
    if os.path.exists(path):
        return path
    offset = row_offset(seed)
    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()),
        ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
        ("caption", pa.string()), ("phash", pa.int64()),
        ("bucket", pa.string())])
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp)
    files = max(len(os.sched_getaffinity(0)), 4)
    bounds = np.linspace(offset, offset + ROWS, files + 1).astype(int)
    for k in range(files):
        batch = [datagen._row(i)
                 for i in range(int(bounds[k]), int(bounds[k + 1]))]
        pq.write_table(pa.Table.from_pylist(batch, schema=schema),
                       os.path.join(tmp, f"part-{k:05d}.parquet"))
    os.rename(tmp, path)
    _evict(cache_dir, keep=64)
    return path


def _evict(cache_dir: str, keep: int) -> None:
    entries = sorted((os.path.getmtime(os.path.join(cache_dir, e)), e)
                     for e in os.listdir(cache_dir) if e.endswith(".parquet"))
    for _, e in entries[:-keep]:
        shutil.rmtree(os.path.join(cache_dir, e), ignore_errors=True)


# ------------------------------------------------------------------- truth

class Truth:
    """The planted link model over any subset of datagen rows (datagen.py
    module doc). Within a group, r0/r1/r2 share bytes or caption; every r5
    row carries the flood caption; r7..r9 are singletons. Those links are
    DETERMINISTIC: equal signatures always meet. The NEAR links may be
    missed for a small share of rows, so a check allows at most
    MAX_NEAR_MISSED of them to be:

    * r3 is one word swap from r0's caption, r4 one swap from r3, and r4
      also reaches r0's caption directly when both swaps leave word-3-
      shingle Jaccard at or above the threshold. MinHash LSH finds these
      with high probability only (42 bands of 3 rows miss a Jaccard-0.54
      pair ~1e-3 of the time).
    * r6 is r0's pixels with ±2 noise. Its pHash is usually within the
      radius of r0's, but the noise moves it 4+ bits in ~0.1% of groups
      (more after a lossy JPEG round trip).

    ``full`` and ``det`` map a row index to its component label (min
    member) under all links and under the deterministic links only."""

    def __init__(self, rows: set[int]):
        det, near = [], []
        flood = None
        for i in sorted(rows):
            base, r = i - i % 10, i % 10
            heads = [j for j in (base, base + 1, base + 2) if j in rows]
            if r in (1, 2):
                det += [(i, j) for j in heads if j != i]
            elif r in (3, 6) and heads:
                near.append((i, heads[0]))
            elif r == 4:
                near += [(i, j) for j in [base + 3] if j in rows]
                if heads and _tail_meets_base(base // 10):
                    near.append((i, heads[0]))
            elif r == 5:
                flood = i if flood is None else flood
                det.append((i, flood))
        self.rows = rows
        self.det = _components(rows, det)
        self.full = _components(rows, det + near)
        self.near_links = len(near)


MAX_NEAR_MISSED = 0.01


def _components(rows: set[int], links: list[tuple[int, int]]) -> dict[int, int]:
    parent = {i: i for i in rows}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in links:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in rows}


def _tail_meets_base(g: int) -> bool:
    """Whether group g's r4 caption (two word swaps) still verifies against
    its base caption: exact word-3-shingle Jaccard ≥ the LSH threshold."""
    from dupers_spark.operators.minhash_lsh import LSHConfig
    from dupers_spark.sources.datagen import _caption_words, _swap_word

    cfg = LSHConfig()

    def shingles(words: list[str]) -> set[tuple[str, ...]]:
        k = cfg.shingle_k
        return {tuple(words[j:j + k]) for j in range(len(words) - k + 1)}

    base = _caption_words(g)
    a = shingles(base)
    b = shingles(_swap_word(_swap_word(base, g, 0), g, 1))
    return len(a & b) / len(a | b) >= cfg.threshold


def _index(image: str) -> int:
    return int(image.rsplit("_", 1)[1])


def check_partition(got: dict[str, str], truth: Truth) -> str | None:
    """A full assignment against the model: the same ids, min-member
    labels, no component joining rows the model keeps apart, every
    deterministic link kept, and at most MAX_NEAR_MISSED of the near links
    missed. None when it holds, else what broke."""
    ids = {_index(k): _index(v) for k, v in got.items()}
    if ids.keys() != truth.rows:
        return (f"{len(truth.rows - ids.keys())} ids missing, "
                f"{len(ids.keys() - truth.rows)} unexpected")
    members: dict[int, list[int]] = {}
    for i, label in ids.items():
        members.setdefault(label, []).append(i)
    for label, ms in members.items():
        if label != min(ms):
            return f"component {image_id(label)} is not labelled by its min member"
        if len({truth.full[m] for m in ms}) > 1:
            return f"component {image_id(label)} joins rows the planted truth keeps apart"
    split = {}
    for i, d in truth.det.items():
        if split.setdefault(d, ids[i]) != ids[i]:
            return f"deterministic link of {image_id(i)} broken"
    missed = len(members) - len(set(truth.full.values()))
    if missed > MAX_NEAR_MISSED * truth.near_links:
        return f"{missed} of {truth.near_links} near-duplicate links missed"
    return None


def check_lookup(got: dict[str, str], want_ids: list[int],
                 truth: Truth) -> str | None:
    """Looked-up labels: every id answered, each label a member of the id's
    model component and within [model label, deterministic label]."""
    ids = {_index(k): _index(v) for k, v in got.items()}
    if sorted(ids) != sorted(want_ids):
        return f"lookup answered {len(ids)} of {len(want_ids)} ids"
    for i, label in ids.items():
        if label not in truth.rows or truth.full[label] != truth.full[i] \
                or not truth.full[i] <= label <= truth.det[i]:
            return f"{image_id(i)} labelled {image_id(label)}"
    return None


def fingerprint(assign: dict[str, str]) -> str:
    """Order-independent digest of an (image_id, component_id) set."""
    h = hashlib.sha256()
    for k in sorted(assign):
        h.update(f"{k}\t{assign[k]}\n".encode())
    return h.hexdigest()


def check_hits(term: str, got: set[str], want: set[str]) -> str | None:
    if got == want:
        return None
    return (f"query {term!r}: {len(got - want)} false hits, "
            f"{len(want - got)} missed of {len(want)}")


# ------------------------------------------------------------------- plans

def dedup_plan(seed: int, offset: int) -> tuple[list[int], list[list[int]]]:
    """The append batch (row indices) and the lookup id lists.

    The batch holds WHOLE_GROUPS complete groups (new components, a flood
    row each) and the r3 row of BRIDGE_GROUPS other groups. Without its r3
    a group's r4 is a singleton in the base build, so appending r3 merges
    two old components: the relabel path of run_incremental."""
    rng = np.random.default_rng([seed, 2])
    groups = [offset // 10 + int(g) for g in rng.permutation(ROWS // 10)]
    whole = groups[:WHOLE_GROUPS]
    bridge = groups[WHOLE_GROUPS:WHOLE_GROUPS + BRIDGE_GROUPS]
    batch = [g * 10 + r for g in whole for r in range(10)] + \
        [g * 10 + 3 for g in bridge]
    held = set(batch)
    base = [i for i in range(offset, offset + ROWS) if i not in held]
    # ids whose labels the batch sets or changes, plus untouched ones
    pool = batch + [g * 10 + 4 for g in bridge]
    lookups = []
    for _ in range(LOOKUPS):
        ids = [int(x) for x in rng.choice(pool, LOOKUP_IDS // 2,
                                          replace=False)]
        ids += [int(x) for x in rng.choice(base, LOOKUP_IDS // 2,
                                           replace=False)]
        lookups.append(sorted(set(ids)))
    return batch, lookups


def search_plan(seed: int, offset: int) -> list[list[int]]:
    rng = np.random.default_rng([seed, 3])
    held = rng.choice(ROWS, SEARCH_BATCHES * SEARCH_BATCH_ROWS, replace=False)
    return [[offset + int(i) for i in held[b::SEARCH_BATCHES]]
            for b in range(SEARCH_BATCHES)]


class TermStream:
    """Seeded query terms: runs of 1-3 caption words, vocabulary word
    fragments, raw caption substrings (may cross a word boundary) and
    misses. Every term is at least one trigram long, so every query takes
    the routed path."""

    def __init__(self, seed: int, captions: list[str]):
        from dupers_spark.sources.datagen import VOCAB

        self.rng = np.random.default_rng([seed, 4])
        self.captions = captions
        self.vocab = VOCAB

    def next(self) -> str:
        rng, u = self.rng, self.rng.random()
        cap = self.captions[int(rng.integers(len(self.captions)))]
        if u < 0.4:
            words = cap.split()
            k = int(rng.integers(1, 4))
            s = int(rng.integers(0, len(words) - k + 1))
            return " ".join(words[s:s + k])
        if u < 0.7:
            w = self.vocab[int(rng.integers(len(self.vocab)))]
            n = int(rng.integers(3, min(4, len(w)) + 1))
            s = int(rng.integers(0, len(w) - n + 1))
            return w[s:s + n]
        if u < 0.85:
            n = int(rng.integers(3, 9))
            s = int(rng.integers(0, len(cap) - n + 1))
            return cap[s:s + n]
        return "".join(rng.choice(list("jqxz"), 4))


# ----------------------------------------------------------------- results

@dataclass
class Result:
    samples: dict[str, list[float]] = field(default_factory=dict)
    setup: list[float] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    input_bytes: int = 0
    disk_bytes: int = 0
    info: dict[str, float] = field(default_factory=dict)

    def time(self, op: str, fn):
        t = time.perf_counter()
        out = fn()
        self.samples.setdefault(op, []).append(time.perf_counter() - t)
        self.attempted += 1
        return out

    def untimed(self, fn):
        """An operation run only for its checked result."""
        self.attempted += 1
        return fn()

    def check(self, failure: str | None, what: str = "") -> None:
        if failure is not None:
            self.failures.append(f"{what}: {failure}" if what else failure)

    def median(self, op: str) -> float:
        return statistics.median(self.samples[op])

    @property
    def timed_wall_s(self) -> float:
        return sum(sum(v) for v in self.samples.values())


@dataclass
class Context:
    spark: object
    tracer: object
    work: str
    input_path: str
    seed: int
    seconds: float

    @property
    def offset(self) -> int:
        return row_offset(self.seed)


def _dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


# --------------------------------------------------------------- workloads

def dedup_up(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from dupers_spark.plans import pipeline

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    offset = ctx.offset
    batch_rows, lookups = dedup_plan(ctx.seed, offset)
    held = set(batch_rows)
    wh = os.path.join(ctx.work, "warehouse")

    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        _fresh(wh)
        images = spark.read.parquet(ctx.input_path)
        images.count()
        cfg = pipeline.PipelineConfig(warehouse=wh, fast=False)
        pipe = pipeline.DedupPipeline(spark, cfg)
        res.setup.append(time.perf_counter() - t)

    base = images.filter(~F.col("image_id").isin([image_id(i) for i in held]))
    comps = res.time("build", lambda: pipe.run(base))
    present = set(range(offset, offset + ROWS)) - held
    got = {r[0]: r[1] for r in comps.collect()}
    res.check(check_partition(got, Truth(present)), "build")

    batch = images.filter(F.col("image_id").isin(
        [image_id(i) for i in batch_rows]))
    comps = res.time("append", lambda: pipeline.DedupPipeline(
        spark, cfg).run_incremental(batch))
    truth = Truth(present | held)
    for ids in lookups:
        names = [image_id(i) for i in ids]

        def lookup():
            with tr.span("bench.lookup"):
                return comps.filter(F.col("image_id").isin(names)) \
                    .select("image_id", "component_id").collect()

        got = {r[0]: r[1] for r in res.time("query", lookup)}
        res.check(check_lookup(got, ids, truth), "lookup after the append")
    served = {r[0]: r[1] for r in comps.collect()}
    res.check(check_partition(served, truth), "assignment after the append")

    records = res.time("maintain",
                       lambda: pipeline.maintain_warehouse(spark, cfg))
    final = {r[0]: r[1] for r in pipeline.DedupPipeline(spark, cfg)
             .store.read("components").select("image_id", "component_id")
             .collect()}
    if not any(r.get("action") == "folded_delta" for r in records):
        res.check("the delta was not folded", "maintain")
    elif fingerprint(final) != fingerprint(served):
        res.check("the fold changed the served assignment", "maintain")

    row = images.agg(F.sum(F.octet_length("bytes")),
                     F.sum(F.octet_length("caption"))).first()
    res.input_bytes = int(row[0]) + int(row[1])
    res.disk_bytes = _dir_bytes(wh)
    res.info["clusters"] = len(set(final.values()))
    res.info["planted_clusters"] = len(set(truth.full.values()))
    return res


def search_mix(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from dupers_spark.operators import search
    from dupers_spark.plans import pipeline
    from dupers_spark.sources.storage import StageStore

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    # route every query through the shards' trigram filters
    # (surviving_shards): by default query_suffix_index routes only an
    # index of 1 GiB or more and probes every shard of a smaller one, which
    # would leave routing out of this workload
    os.environ["SPARK_GRAFT_SA_ROUTE_MIN_BYTES"] = "0"
    captions = {r[0]: r[1] for r in spark.read.parquet(ctx.input_path)
                .select("image_id", "caption").collect()}
    batches = search_plan(ctx.seed, ctx.offset)
    held = {image_id(i) for b in batches for i in b}
    terms = TermStream(ctx.seed, [captions[k] for k in sorted(captions)])
    wh = os.path.join(ctx.work, "search")

    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        _fresh(wh)
        docs = spark.read.parquet(ctx.input_path).select("image_id", "caption")
        docs.count()
        store = StageStore(spark, wh)
        res.setup.append(time.perf_counter() - t)

    def shard_count() -> int:  # traced run only: the ratio's denominator
        return store.read(SA_STAGE).count() if tr.enabled else 0

    def build():
        with tr.span("operators.search.build_suffix_index"):
            store.write(SA_STAGE, search.build_suffix_index(
                docs.filter(~F.col("image_id").isin(sorted(held)))))

    def run_query(term: str, timed: bool) -> None:
        def q():
            with tr.query(shards):
                return {r[0] for r in search.query_suffix_index(
                    store.read(SA_STAGE), term).collect()}

        got = res.time("query", q) if timed else res.untimed(q)
        want = {k for k in present if term in captions[k]}
        res.check(check_hits(term, got, want))

    stream_s = ctx.seconds / SEARCH_CYCLES
    for cycle in range(SEARCH_CYCLES):
        if cycle:
            _fresh(wh)
        res.time("build", build)
        present = set(captions) - held
        shards = shard_count()
        # the first queries of the process run 1.5-2x slower while the
        # query path warms up; timing them would make the median depend on
        # how many fit into the first stream
        for _ in range(0 if cycle else WARMUP_QUERIES):
            run_query(terms.next(), timed=False)
        start, appended, queried = time.perf_counter(), 0, 0
        while True:
            elapsed = time.perf_counter() - start
            if appended < len(batches) and \
                    elapsed >= (appended + 1) * stream_s / (len(batches) + 1):
                ids = [image_id(i) for i in batches[appended]]

                def append():
                    with tr.span("operators.search.append_suffix_index"):
                        search.append_suffix_index(store, SA_STAGE, docs.filter(
                            F.col("image_id").isin(ids)))

                res.time("append", append)
                present |= set(ids)
                appended += 1
                shards = shard_count()
            elif elapsed >= stream_s and appended == len(batches) and \
                    queried >= MIN_QUERIES:
                break
            else:
                run_query(terms.next(), timed=True)
                queried += 1

        records = res.time("maintain",
                           lambda: pipeline.maintain_warehouse(spark, wh))
        shards = shard_count()
        res.check(None if any(r.get("action") == "rebuilt_sa" for r in records)
                  else "maintain_warehouse did not compact the "
                       "append-accreted suffix-array shards")
        for _ in range(CHECK_QUERIES):
            run_query(terms.next(), timed=False)

    res.input_bytes = sum(len(c.encode()) for c in captions.values())
    res.disk_bytes = _dir_bytes(os.path.join(wh, SA_STAGE))
    qs = sorted(res.samples["query"])
    res.info["queries"] = len(qs)
    res.info["search_p90_ms"] = 1000 * qs[min(len(qs) - 1, int(0.9 * len(qs)))]
    return res


WORKLOADS = {"dedup_up": dedup_up, "search_mix": search_mix}
