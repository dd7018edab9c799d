"""The closed-loop workloads: pip_tile and text_dedup (listed in
BENCHMARK.json), geom_batch and knn_ring (run by hand; README.md says why).

Each workload materializes seeded inputs to parquet at set-up, computes
an independent reference from them (reference.py), and defines one op:
a pipeline of public pygeoops_spark calls plus the action that collects
its result.  Every call and action runs inside a named span, so a traced
run attributes Spark jobs to the layer that started them.  An op
returns the rows of input it completed and a function that checks its
result against the reference (returning None or what is wrong).

Sizes keep a listed workload's op near one to four seconds at local[4],
so a 12-second timed phase holds several ops.  ``warmup_ops`` is how
many ops after the first run untimed while the JVM compiles the paths
the op uses (README.md, Load shape).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import reference as ref

# pip_tile: the paper's flagship, pages -> PIP join -> 8 x 8 tile rollup
PIP_PAGES = 150_000
PIP_VERTICES = 256
# knn_ring: 4096 targets exceed k * (2r + 1)^2 = 125, so the exact
# ring recursion runs, not the brute-force escape.  Not in
# BENCHMARK.json: one op starts ~120 Spark jobs and takes 10-20 s
# (README.md), more than a whole timed run; run it by hand.
KNN_PROBES = 2_000
KNN_TARGETS = 4096
KNN_K = 5
KNN_SAMPLE = 300
# geom_batch: Python-worker-bound kernels, no join; by hand (README.md)
GEOM_SIMPLIFY = 800
GEOM_BUFFER = 100
GEOM_CENTERLINE = 200
GEOM_DIFFERENCE = 2
# text_dedup: synth_docs, one near-duplicate per ten documents
TEXT_DOCS = 2000
TEXT_THRESHOLD = 0.5


class PipTile:
    name = "pip_tile"
    warmup_ops = 3

    def materialize(self, spark, seed: int, path: str, parts: int) -> dict:
        return ref.pip_tile_inputs(seed, PIP_PAGES, PIP_VERTICES, path, parts)

    def reference(self, inp: dict, path: str) -> dict:
        return {"groups": ref.pip_tile_reference(inp)}

    def op(self, spark, path: str, inp: dict, span, state: dict):
        from pygeoops_spark.join.pip import pip_join_polygons
        from pygeoops_spark.operators.grid import assign_to_grid

        with span("spark.read_parquet"):
            pages = spark.read.parquet(os.path.join(path, "pages"))
            zones = spark.read.parquet(os.path.join(path, "zones"))
        with span("join.pip_join_polygons"):
            joined = pip_join_polygons(pages, zones, level=None, ship="auto")
        with span("operators.assign_to_grid"):
            rollup = assign_to_grid(joined, "x", "y", ref.BOUNDS, ref.GRID, ref.GRID)
            rollup = rollup.groupBy("zone_id", "tile_id").count()
        with span("join.pip_join_polygons.action"):
            rows = [(r[0], r[1], r[2]) for r in rollup.collect()]
        state["joined_rows"] = sum(n for _, _, n in rows)
        return PIP_PAGES, lambda r: ref.check_pip_tile(r["groups"], rows)


def _knn_digest(df, probe: str, nn: str):
    """Order-independent digest of (probe, neighbour, rank) rows: a
    swapped rank changes it."""
    term = (F.col(probe) * F.lit(4099) + F.col(nn)) * (F.col("knn_rank") * F.col("knn_rank") + 7)
    return df.agg(F.count("*"), F.sum(term)).first()


class KnnRing:
    name = "knn_ring"
    warmup_ops = 2

    def materialize(self, spark, seed: int, path: str, parts: int) -> dict:
        return ref.knn_inputs(seed, KNN_PROBES, KNN_TARGETS, path, parts, KNN_SAMPLE, KNN_K)

    def reference(self, inp: dict, path: str) -> dict:
        return ref.knn_reference(inp)

    def op(self, spark, path: str, inp: dict, span, state: dict):
        from pygeoops_spark.join.geo_knn import geodesic_knn_join
        from pygeoops_spark.join.knn import knn_join

        out = {}
        for fn, kind, pside, tside, dist in (
            (knn_join, "planar", "probes", "targets", "dist"),
            (geodesic_knn_join, "geo", "gprobes", "hubs", "dist_m"),
        ):
            name = "join." + fn.__name__
            with span("spark.read_parquet"):
                probes = spark.read.parquet(os.path.join(path, pside))
                targets = spark.read.parquet(os.path.join(path, tside))
            with span(name):
                res = fn(probes, targets, "pid", "tid", k=KNN_K, level=None, guarantee_exact=True)
            with span(name + ".action"):
                n, digest = _knn_digest(res, "pid", "tid_nn")
                sample = [
                    tuple(r)
                    for r in res.where(F.col("pid") < KNN_SAMPLE)
                    .select("pid", "tid_nn", dist, "knn_rank").collect()
                ]
            out[kind] = (n, digest, sample)
            state.setdefault("knn_rows", n)

        def check(r: dict) -> str | None:
            for kind, (n, digest, sample) in out.items():
                err = ref.check_knn(r[kind], n, r["expected_rows"], sample)
                if err is None and state.setdefault(kind + "_digest", digest) != digest:
                    err = "output digest differs from the first op's"
                if err:
                    return f"{kind}: {err}"
            return None

        return 2 * KNN_PROBES, check


class GeomBatch:
    name = "geom_batch"
    warmup_ops = 4

    def materialize(self, spark, seed: int, path: str, parts: int) -> dict:
        return ref.geom_inputs(
            seed, GEOM_SIMPLIFY, GEOM_BUFFER, GEOM_CENTERLINE, GEOM_DIFFERENCE, path, parts
        )

    def reference(self, inp: dict, path: str) -> dict:
        return inp

    def op(self, spark, path: str, inp: dict, span, state: dict):
        from pygeoops_spark.operators.centerline import buffer_by_m_col, centerline_col
        from pygeoops_spark.operators.difference import difference_all_tiled_distributed
        from pygeoops_spark.operators.simplify import simplify_col

        def read(name: str):
            with span("spark.read_parquet"):
                return spark.read.parquet(os.path.join(path, name))

        df = read("simplify")
        with span("operators.simplify_col"):
            out = df.select("gid", simplify_col("wkb", 1.0, "lang+", lookahead=8).alias("g"))
        with span("operators.simplify_col.action"):
            simplified = [(r[0], r[1]) for r in out.collect()]

        digests = []
        for name, fn in (("buffer", buffer_by_m_col), ("centerline", centerline_col)):
            df = read(name)
            with span("operators." + fn.__name__):
                out = df.select(fn("wkb").alias("g"))
            with span("operators." + fn.__name__ + ".action"):
                digests.append(tuple(out.agg(F.count("g"), F.sum(F.xxhash64("g"))).first()))

        df = read("difference")
        with span("operators.difference_all_tiled_distributed"):
            out = difference_all_tiled_distributed(df, "gid", "wkb", inp["boxes"], subdivide_coords=200)
        with span("operators.difference_all_tiled_distributed.action"):
            diffed = [(r[0], r[1]) for r in out.collect()]

        def check(r: dict) -> str | None:
            err = ref.check_areas(r["simplify_area"], simplified, "simplify_col")
            err = err or ref.check_areas(r["difference_area"], diffed, "difference_all_tiled_distributed")
            if err:
                return err
            for (n, _), want in zip(digests, (GEOM_BUFFER, GEOM_CENTERLINE)):
                if n != want:
                    return f"{n} non-null outputs, expected {want}"
            if state.setdefault("digests", digests) != digests:
                return "buffer_by_m_col/centerline_col digest differs from the first op's"
            return None

        return inp["rows"], check


class TextDedup:
    name = "text_dedup"
    warmup_ops = 4

    def materialize(self, spark, seed: int, path: str, parts: int) -> dict:
        from pygeoops_spark.corpus.pages import synth_docs

        # the seed sets the generator's long-tail vocabulary size, which
        # re-draws every tail word; the first TEXT_DOCS ids are kept
        docs = synth_docs(spark, TEXT_DOCS + seed % 1000, partitions=parts)
        docs.where(F.col("doc_id") < TEXT_DOCS).write.mode("overwrite").parquet(
            os.path.join(path, "docs")
        )
        return {"rows": TEXT_DOCS}

    def reference(self, inp: dict, path: str) -> dict:
        return ref.text_reference(os.path.join(path, "docs"), TEXT_THRESHOLD)

    def op(self, spark, path: str, inp: dict, span, state: dict):
        from pygeoops_spark.text.dedup import jaccard_pairs, minhash_lsh_pairs
        from pygeoops_spark.text.pipeline import connected_components

        with span("spark.read_parquet"):
            docs = spark.read.parquet(os.path.join(path, "docs"))
        with span("text.jaccard_pairs"):
            pairs = jaccard_pairs(docs, threshold=TEXT_THRESHOLD)
        with span("text.jaccard_pairs.action"):
            prows = [tuple(r) for r in pairs.collect()]
        stats: dict = {}
        with span("text.connected_components"):
            cc = connected_components(pairs, stats=stats)
        with span("text.connected_components.action"):
            labels = [tuple(r) for r in cc.collect()]
        with span("text.minhash_lsh_pairs"):
            lsh = minhash_lsh_pairs(docs, threshold=TEXT_THRESHOLD)
        with span("text.minhash_lsh_pairs.action"):
            lrows = [tuple(r) for r in lsh.collect()]
        state["cc_rounds"] = stats.get("rounds", -1)

        def check(r: dict) -> str | None:
            err = ref.check_text(r, prows, labels, lrows)
            if err is None and state.setdefault("lsh", sorted(lrows)) != sorted(lrows):
                err = "minhash_lsh_pairs differs from the first op's"
            return err

        return TEXT_DOCS, check


WORKLOADS = {w.name: w for w in (PipTile(), KnnRing(), GeomBatch(), TextDedup())}
