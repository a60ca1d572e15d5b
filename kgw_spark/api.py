"""User-facing workflow API — the reference's Project/run surface
(kgw/_shared/base.py:12-382) on the Spark engine.

A ``Project`` declares WHAT to build (`to_statistics()`, `to_csv()`,
...); ``run(workflow)`` executes every requested output, memoized the
way the reference's Luigi targets are (an output that already exists
is skipped, so a failed run resumes without re-doing completed work).
The Luigi process-pool is replaced by Spark's own parallelism — tasks
here are output renders over the shared nodes/edges store.

A user of the reference maps 1:1:

    kgw:                            kgw_spark:
    proj = kgw.biomedicine.Hald(    proj = RawGraphProject("hald",
        version="4", workdir="w")       load=..., workdir="w")
    proj.to_sqlite()                proj.to_sqlite()
    proj.to_statistics()            proj.to_statistics()
    proj.to_metta("spo")            proj.to_metta("spo")
    kgw.run([proj])                 run(spark, [proj])
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kgw_spark.plans import analytics
from kgw_spark.sinks import export
from kgw_spark.sinks.store import TableStore

VALID_METTA = ("spo", "properties_aggregated", "properties_expanded")


class Project:
    """One dataset → one unified KG store → any number of outputs.

    Subclasses (or the generic ``RawGraphProject``) implement
    ``load(spark) -> (nodes, edges)``. The store materialization itself
    is checkpointed via TableStore manifests; file outputs are
    memoized on existence, like the reference's Luigi targets
    (kgw/_shared/base.py:300-304).
    """

    label = "project"
    versions: list[str] = ["1"]
    #: optional kgw_spark.sources.metadata.MetadataFetcher — when set,
    #: version discovery goes through it (live transport or recorded
    #: fixtures) instead of the static ``versions`` list
    metadata_fetcher = None

    @classmethod
    def get_versions(cls) -> list[str]:
        """E10 version discovery (reference kgw/_shared/base.py:61-63 /
        extract.py:220-350): through the pluggable MetadataFetcher when
        one is configured, else the static list."""
        if cls.metadata_fetcher is not None:
            return cls.metadata_fetcher.get_versions()
        return list(cls.versions)

    def __init__(self, version: str = "1", workdir: str = "."):
        if self.metadata_fetcher is not None:
            version = self.metadata_fetcher.resolve_version(version)
        elif version == "latest":
            version = self.get_versions()[-1]
        self.version = str(version)
        self.workdir = workdir
        self.dirpath = os.path.join(workdir, f"{self.label}_v{self.version}")
        self.results_dir = os.path.join(self.dirpath, "results")
        self._outputs: list[tuple[str, Callable]] = []
        self._store: TableStore | None = None

    # -- data ------------------------------------------------------------
    def load(self, spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        raise NotImplementedError

    def _graph(self, spark) -> tuple[DataFrame, DataFrame]:
        store = self._store or TableStore(os.path.join(self.dirpath, "store"))
        self._store = store
        fp = f"{self.label}:{self.version}"
        if not (store.is_complete("nodes", fp) and store.is_complete("edges", fp)):
            nodes, edges = self.load(spark)
            store.write(edges, "edges", partition_by="type", input_fingerprint=fp)
            store.write(nodes, "nodes", partition_by="type", input_fingerprint=fp)
        return store.read(spark, "nodes"), store.read(spark, "edges")

    # -- output declarations (reference base.py:65-244) -------------------
    def _add(self, filename: str, write: Callable):
        path = os.path.join(self.results_dir, filename)
        self._outputs.append((path, write))
        return self

    def _add_text(self, filename: str, render: Callable, distributed: bool):
        """Declare an export: ``render(nodes, edges)`` is its
        ``export.*_text`` frame. ``distributed`` picks only the layout:
        the file ``filename``, or a directory of part files named with
        its dots as underscores (``kg.sql`` → ``kg_sql``) that
        concatenate to the same bytes."""
        name = filename if not distributed else filename.replace(".", "_")
        return self._add(
            name,
            lambda n, e, p: export.write_text(render(n, e), p, distributed),
        )

    def to_sqlite(self):
        return self._add(
            "kg.sqlite", lambda n, e, p: export.to_sqlite(n, e, p)
        )

    def to_statistics(self):
        return self._add(
            "statistics.json", lambda n, e, p: analytics.write_statistics(n, e, p)
        )

    def to_schema(self):
        return self._add("schema.html", lambda n, e, p: analytics.schema_html(n, e, p))

    def to_sql(self, distributed: bool = False):
        """sqlite iterdump format; ``distributed=True`` (here and on the
        other text exports) writes the same bytes as a sharded
        directory, one file per partition, committed by one rename."""
        return self._add_text("kg.sql", export.sql_dump_text, distributed)

    def to_csv(self, distributed: bool = False):
        self._add_text("kg_nodes.csv", lambda n, e: export.csv_text(n), distributed)
        return self._add_text(
            "kg_edges.csv", lambda n, e: export.csv_text(e), distributed
        )

    def to_jsonl(self, distributed: bool = False):
        self._add_text(
            "kg_nodes.jsonl", lambda n, e: export.jsonl_text(n), distributed
        )
        return self._add_text(
            "kg_edges.jsonl", lambda n, e: export.jsonl_text(e), distributed
        )

    def to_metta(self, representation: str = "spo", distributed: bool = False):
        if representation not in VALID_METTA:
            raise ValueError(
                f"Unknown representation: {representation}. "
                f"Valid: {', '.join(VALID_METTA)}"
            )
        render = {
            "spo": export.metta_spo_text,
            "properties_aggregated": export.metta_properties_aggregated_text,
            "properties_expanded": export.metta_properties_expanded_text,
        }[representation]
        return self._add_text(f"kg_{representation}.metta", render, distributed)

    def to_graphml(self, distributed: bool = False):
        return self._add_text("kg.graphml", export.graphml_text, distributed)


class RawGraphProject(Project):
    """Generic project over any reader: ``load`` is injected."""

    def __init__(self, label: str, load: Callable, version: str = "1", workdir: str = "."):
        self.label = label
        self._load = load
        super().__init__(version, workdir)

    def load(self, spark):
        return self._load(spark)


def run(
    spark: SparkSession, workflow, num_workers: int | None = None, verbose: bool = False
) -> bool:
    """Execute every requested output of every project, memoized on
    output existence (reference kgw/_shared/base.py:273-382; the arg
    matrix accepts a single project or a list/tuple/set).

    ``num_workers`` mirrors the reference signature but is advisory:
    parallelism lives inside Spark (the reference used it for its Luigi
    process pool, base.py:333-334)."""
    if num_workers is not None and (
        not isinstance(num_workers, int) or num_workers < 1
    ):
        raise ValueError(f"Invalid num_workers: {num_workers!r}")
    if isinstance(workflow, Project):
        workflow = [workflow]
    if not isinstance(workflow, (list, tuple, set)):
        raise ValueError(f"Invalid workflow: {workflow!r}")
    projects = list(workflow)
    for proj in projects:
        if not isinstance(proj, Project):
            raise ValueError(f"Invalid workflow item: {proj!r}")
    # O5 task events (reference kgw/_shared/tasks.py:34-69): one JSON
    # line per Started/Finished/Failed/Skipped output task
    def log(event: str, path: str):
        if verbose:
            print(json.dumps({"event": event, "path": path}), flush=True)

    for proj in projects:
        if not proj._outputs:
            continue
        os.makedirs(proj.results_dir, exist_ok=True)
        nodes, edges = proj._graph(spark)
        for path, render in proj._outputs:
            if os.path.exists(path):
                log("Skipped", path)
                continue
            tmp = path + ".partial"
            log("Started", path)
            try:
                render(nodes, edges, tmp)
                os.rename(tmp, path)
            except Exception:
                if os.path.isdir(tmp):
                    import shutil

                    shutil.rmtree(tmp, ignore_errors=True)
                elif os.path.exists(tmp):
                    os.remove(tmp)
                log("Failed", path)
                raise
            log("Finished", path)
    return True
