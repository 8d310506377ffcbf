"""``query_batch``: a fixed, seeded order over registry queries on
seeded TPC-H-ish tables, plus the write side of the same layers. Each
registry op is ``spec.fn`` (the driver-side plan build) plus a noop
write (the execution), so it goes through ``queries``, ``operators`` and
``io``; the interactive ``clif`` handlers are bypassed.

The read queries cover every ``sparkclif/operators`` module and every
relational family. The write side is two streaming harnesses, a parquet
sink and an incremental dedup store from the registry, and bulk ``clif``
ingest: a seeded Slack payload log through
``ingest.slack_payloads_to_command_log`` and
``commands.apply_command_log``, and ``metadata.extract_metadata`` over a
seeded ``repo_documents`` corpus.

Registry queries are compared with their DuckDB oracles once per run,
on the DataFrame the warm-up built; the two bulk ops are checked on
every call against a pure-Python replay of the reference semantics.
"""

from __future__ import annotations

import json
import os

import numpy as np

from perfbench import datagen
from perfbench.coord import POC_SHARE
from perfbench.harness import dir_bytes, median
from perfbench.metrics import QUERY_FAMILIES
from perfbench.workload import Op, Workload

# (registry query, family); the operator modules each read query
# reaches are listed in perfbench/README.md
QUERIES = [
    ("a_scan_parquet", "scan"),
    ("b_predicates", "filter"),
    ("c_join_asof", "join"),
    ("c_join_range_bucketed", "join"),
    ("d_agg_countmin_topk", "agg"),
    ("d_agg_retention", "agg"),
    ("e_win_cusum", "window"),
    ("f_set_ops", "setop"),
    ("g_string_funcs", "scalar"),
    ("j_udf_scalar", "udf"),
    ("i_dedup_keep_best", "llm"),
    ("i_cluster_kmeans", "llm"),
    ("i_text_lm_score", "llm"),
    ("i_embed_pq_search", "llm"),
    ("i_sim_cosine_topk", "llm"),
    ("i_multimodal_features", "llm"),
    ("i_dedup_minhash_anchor", "llm"),
    ("h_stream_upsert", "stream"),
    ("h_stateful_sessions", "stream"),
    ("a_sink_roundtrip", "sink"),
    ("i_dedup_incremental", "store"),
]
BULK = ["apply_log", "extract_metadata"]
SF = {"full": 0.01, "tiny": 0.001}
# passes over QUERIES + BULK per second of --seconds
PASSES_PER_S = 0.14
LOG_EVENTS = {"full": 3_000, "tiny": 500}
LOG_PROJECTS, LOG_USERS = 40, 300
REPOS = {"full": 300, "tiny": 40}


def replay_log(payloads: list[tuple[float, str]]):
    """The reference's sequential handling of the generated log
    (app.py: new_project, set_poc, status_update): returns
    ({(repo_url, site): status}, number of error events)."""
    from sparkclif.clif.fixtures import SITES

    status: dict = {}
    poc: dict = {}
    errors = 0
    for _ts, raw in payloads:
        body = json.loads(raw)
        if body["type"] == "view_submission":
            vals = body["view"]["state"]["values"]
            if body["view"]["callback_id"] == "clif_project_modal":
                url = vals["github_url_block"]["github_url"]["value"]
                for site in SITES:
                    status[(url, site)] = "❓"
            else:
                user = vals["user_block"]["user_select"]["selected_user"]
                poc[user] = vals["site_block"]["site_select"]["selected_option"]["value"]
        else:
            user = body["user"]["id"]
            url, st = body["actions"][0]["value"].split("|")
            if user not in poc or (url, SITES[0]) not in status:
                errors += 1
            else:
                status[(url, poc[user])] = st
    return status, errors


def expected_metadata(rows: list[tuple[str, str, str]], urls: list[str]) -> dict:
    """repo_url -> (project_name, description, tables_required) as the
    reference's parse_repo gives it for the generated corpus."""
    out = {u: ("", "", ()) for u in urls}
    for url, path, body in rows:
        if path == "project.yaml":
            lines = body.splitlines()
            tables = tuple(x.strip()[2:] for x in lines[3:] if x.strip())
            out[url] = (lines[0].split(": ", 1)[1], lines[1].split(": ", 1)[1], tables)
        elif path == "metadata.json":
            d = json.loads(body)
            out[url] = (d["name"], d["description"], tuple(d["tables_required"]))
        else:
            lines = [x for x in body.splitlines() if x.strip()]
            req = lines[2].split(":", 1)[1]
            tables = tuple(t.strip() for t in req.split(",") if t.strip())
            out[url] = (lines[0].lstrip("#").strip(), lines[1], tables)
    return out


class QueryBatch(Workload):
    name = "query_batch"

    def __init__(self, seed: int, scale: str, seconds: int, tracer):
        super().__init__(seed, scale, seconds, tracer)
        self.family = dict(QUERIES, **{b: "bulk" for b in BULK})
        self.last_df = {}
        rng = np.random.default_rng([seed, 2])
        passes = 1 if scale == "tiny" else max(1, round(seconds * PASSES_PER_S))
        kinds = list(self.family) * passes
        self.ops = [Op(kinds[i], ()) for i in rng.permutation(len(kinds))]
        self.payloads = datagen.slack_payloads(
            seed, LOG_EVENTS[scale], LOG_PROJECTS, LOG_USERS, POC_SHARE)
        self.want_log = replay_log(self.payloads)
        self.repo_rows = datagen.repo_documents(seed, REPOS[scale])
        self.urls = datagen.repo_urls(REPOS[scale])
        self.want_meta = expected_metadata(self.repo_rows, self.urls)

    def setup_inputs(self, spark, data_dir: str) -> None:
        from sparkclif.clif.fixtures import sites_df
        from sparkclif.registry import all_queries

        self.spark = spark
        self.sf_dir = data_dir
        datagen.write_tables(datagen.make_tables(self.seed, SF[self.scale]), data_dir)
        self.specs = all_queries()
        self.sites_df = sites_df(spark)
        self.repos_df = spark.createDataFrame([(u,) for u in self.urls], "repo_url string")
        self.docs_df = spark.createDataFrame(
            self.repo_rows, "repo_url string, path string, body string"
        )

    def warmup_ops(self) -> list[Op]:
        return [Op(kind, ()) for kind in self.family]

    def execute(self, op: Op):
        from sparkclif.clif import commands, ingest, metadata

        if op.kind == "apply_log":
            with self.tracer.span("clif.apply_log", op.kind):
                log = ingest.slack_payloads_to_command_log(self.spark, self.payloads)
                _p, current, _pocs, errors = commands.apply_command_log(log, self.sites_df)
                rows = current.select("repo_url", "site_name", "status").collect()
                n_err = errors.count()
            return {(r.repo_url, r.site_name): r.status for r in rows}, n_err
        if op.kind == "extract_metadata":
            with self.tracer.span("clif.extract_metadata", op.kind):
                rows = metadata.extract_metadata(self.repos_df, self.docs_df).collect()
            return {r.repo_url: (r.project_name, r.description, tuple(r.tables_required))
                    for r in rows}
        family = self.family[op.kind]
        build = "queries.build" if family in QUERY_FAMILIES else "write.build"
        with self.tracer.span(build, op.kind):
            df = self.specs[op.kind].fn(self.spark, self.sf_dir)
        with self.tracer.span(f"queries.exec.{family}", op.kind):
            df.write.format("noop").mode("overwrite").save()
        self.last_df[op.kind] = df
        return df

    def check(self, op: Op, out) -> str | None:
        want = {"apply_log": self.want_log, "extract_metadata": self.want_meta}.get(op.kind)
        if want is not None and out != want:
            return f"{op.kind}: output differs from the reference replay"
        return None

    def corrupt(self, op: Op, out):
        if op.kind == "apply_log":
            return out[0], out[1] + 1
        if op.kind == "extract_metadata":
            return {**out, "https://github.com/org/none": ("", "", ())}
        return super().corrupt(op, out)

    def verify_setup(self, inject_fault: bool) -> dict[str, str]:
        from sparkclif.oracle import compare, run_oracle

        bad = {}
        for i, (q, _f) in enumerate(QUERIES):
            sql = self.specs[q].oracle
            df = self.last_df.get(q)
            if df is None:
                bad[q] = "no successful warm-up execution"
                continue
            if sql is None:
                continue
            try:
                want = run_oracle(sql, self.sf_dir)
                if inject_fault and i == 0:
                    want = want.iloc[1:] if len(want) else want.assign(extra=1)
                problems = compare(df, want)
            except Exception as e:
                problems = [f"{type(e).__name__}: {e}"[:300]]
            if problems:
                bad[q] = "; ".join(problems)[:400]
        return bad

    def annotate(self, rec: dict) -> None:
        if self.family[rec["kind"]] == "stream":
            from sparkclif.session import tmp_dir

            rec["scratch_bytes"] = dir_bytes(tmp_dir())

    def details(self) -> dict:
        return {"sf": SF[self.scale], "sf_dir": os.path.relpath(self.sf_dir),
                "log_events": len(self.payloads), "repos": len(self.urls)}

    def layer_metrics(self, recs: list[dict], tracer) -> dict[str, float]:
        ms = tracer.self_ms()
        reads = [r for r in recs if self.family[r["kind"]] in QUERY_FAMILIES]
        stream = [r for r in recs if self.family[r["kind"]] == "stream"]
        n = max(1, len(reads))
        out = {
            "queries.build_ms": ms.get("queries.build", 0.0) / n,
            "queries.jobs_per_op": sum(r["jobs"] for r in reads) / n,
            "queries.stages_per_op": sum(r["stages"] for r in reads) / n,
            "queries.tasks_per_op": sum(r["tasks"] for r in reads) / n,
            "clif.apply_log_ms": median([r["ms"] for r in recs if r["kind"] == "apply_log"]),
            "clif.extract_metadata_ms": median(
                [r["ms"] for r in recs if r["kind"] == "extract_metadata"]),
            "streaming.run_ms": median([r["ms"] for r in stream]),
            "streaming.jobs_per_op": sum(r["jobs"] for r in stream) / max(1, len(stream)),
            "streaming.scratch_bytes_per_op": median([r.get("scratch_bytes", 0) for r in stream]),
        }
        for fam in QUERY_FAMILIES:
            k = sum(1 for r in reads if self.family[r["kind"]] == fam)
            out[f"queries.exec_ms.{fam}"] = ms.get(f"queries.exec.{fam}", 0.0) / k if k else 0.0
        return out
