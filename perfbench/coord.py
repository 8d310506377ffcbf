"""``coord_cmds``: the reference bot's interactive handlers as point
calls into ``sparkclif.clif``, checked op by op against a pure-Python
dict model of the reference's ``state.py``/``mcide.py`` semantics.

Ops run in sessions that follow one fixed template; within a session
every write extends the store's lineage (the chain depth), and the
next session starts again from the seeded base state. So the chain
depth an op sees depends only on its slot in the template, never on
its position in the run, and every seed does the same work. The seed
picks each op's arguments (project, site, status, user, catalog table
and variable), and which half of the sessions append a duplicate.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

from perfbench import datagen
from perfbench.workload import Op, Workload

N_PROJECTS = 40
N_POCS = 60
# One session. The slots follow the reference bot's handler flows
# (app.py): S a status click (handle_status_update: set_site_status,
# then the last-wins read of that cell), D the dashboard
# (/clif-status: render_status_table), P a POC assignment (the
# /clif-site-poc modal: set_poc, then site_for_user), and T V L A one
# /mCIDE modal: it opens on the table list, re-lists variables on a
# table change and values on a variable change (app.py:166-205), then
# submits one value (append_value); half the sessions submit a value
# already in the file. How often bot users run each flow is recorded
# nowhere; the weights (4 status clicks, 2 dashboards, 1 POC assignment
# and 1 mCIDE modal per session) are an assumption. The generated
# Slack log of query_batch uses the same status-click to POC ratio
# (POC_SHARE). Four status clicks make the chain depth 1 to 4.
TEMPLATE = "STVLASDPSSD"
POC_SHARE = TEMPLATE.count("P") / (TEMPLATE.count("P") + TEMPLATE.count("S"))
# sessions per second of --seconds (the op count does not depend on speed)
SESSIONS_PER_S = 0.4

KIND = {
    "S": "status_write",
    "D": "dashboard",
    "P": "poc",
    "T": "mcide_list",
    "V": "mcide_list",
    "L": "mcide_list",
    "A": "mcide_append",
}
BROWSE = {"T": "tables", "V": "variables", "L": "values"}
BASE_TS = dt.datetime(2025, 3, 1, 0, 0, 0)


# ---- the reference model ---------------------------------------------------

MAX_NAME, TRUNC_AT, MIN_COL = 25, 22, 8


def render_dashboard(projects: list[tuple[str, str]], status: dict, sites: list[str]) -> str:
    """The reference's status table text (state.py:145-179) from plain
    dicts: ``projects`` is [(repo_url, name)] in release order."""
    if not projects:
        return "No active projects."
    names = [n[:TRUNC_AT] + "..." if len(n) > MAX_NAME else n for _u, n in projects]
    site_w = max(len("Site"), max(len(s) for s in sites))
    widths = [site_w] + [max(MIN_COL, len(n)) for n in names]
    lines = [" | ".join(["Site".ljust(site_w)] + [n.ljust(w) for n, w in zip(names, widths[1:])])]
    lines.append("-" * (sum(widths) + 3 * (len(widths) - 1)))
    for site in sites:
        cells = [status[u].get(site, "❓").center(w) for (u, _n), w in zip(projects, widths[1:])]
        lines.append(" | ".join([site.ljust(site_w)] + cells))
    return "\n".join(lines)


@dataclass
class Model:
    projects: list  # [(repo_url, name)] in release order
    status: dict  # repo_url -> {site: status}
    pocs: dict  # user -> site
    catalog: dict  # (table, variable) -> [values]

    def copy(self) -> "Model":
        return Model(
            list(self.projects),
            {u: dict(v) for u, v in self.status.items()},
            dict(self.pocs),
            {k: list(v) for k, v in self.catalog.items()},
        )

    def tables(self) -> list[str]:
        return sorted({t for t, _v in self.catalog if not t.startswith("00_")})

    def variables(self, table: str) -> list[str]:
        return sorted({v for t, v in self.catalog if t == table})

    def append(self, table: str, variable: str, value: str):
        value = value.strip()
        values = self.catalog.setdefault((table, variable), [])
        if value in values:
            return ("duplicate", "Value already exists")
        values.append(value)
        return ("ok", "\n".join(values) + "\n")


# ---- the workload ----------------------------------------------------------

class CoordCmds(Workload):
    name = "coord_cmds"

    def __init__(self, seed: int, scale: str, seconds: int, tracer):
        super().__init__(seed, scale, seconds, tracer)
        from sparkclif.clif.fixtures import SITES, STATUSES

        rng = np.random.default_rng([seed, 1])
        self.sites = list(SITES)
        self.statuses = list(STATUSES)
        self.project_rows = datagen.project_rows(N_PROJECTS, rng)
        self.poc_rows = [
            (f"U{i:06d}", SITES[int(rng.integers(0, len(SITES)))],
             "General" if i % 3 else self.project_rows[i % N_PROJECTS][1],
             BASE_TS - dt.timedelta(days=1, seconds=i))
            for i in range(N_POCS)
        ]
        self.mcide_rows = datagen.mcide_rows()
        self.base_model = Model(
            [(r[0], r[1]) for r in self.project_rows],
            {r[0]: {s: "❓" for s in SITES} for r in self.project_rows},
            {u: s for u, s, _p, _t in self.poc_rows},
            {},
        )
        for t, v, val, _n in self.mcide_rows:
            self.base_model.catalog.setdefault((t, v), []).append(val)
        self.ops = self._make_ops(rng)

    def _make_ops(self, rng) -> list[Op]:
        """The op list, with each op's expected output from the model."""
        ops: list[Op] = []
        keys = sorted(self.base_model.catalog)
        t = 0
        sessions = 1 if self.scale == "tiny" else max(2, round(self.seconds * SESSIONS_PER_S))
        # exactly half the sessions (rounded up) append a duplicate
        dup = set(rng.permutation(sessions)[: (sessions + 1) // 2].tolist())
        for s in range(sessions):
            model = self.base_model.copy()
            depth = 0
            table, var = keys[int(rng.integers(0, len(keys)))]
            for slot, code in enumerate(TEMPLATE):
                t += 1
                ts = BASE_TS + dt.timedelta(seconds=t)
                shape = f"{KIND[code]}@{slot}"
                if code == "S":
                    depth += 1
                    url = self.project_rows[int(rng.integers(0, N_PROJECTS))][0]
                    site = self.sites[int(rng.integers(0, len(self.sites)))]
                    st = self.statuses[int(rng.integers(0, len(self.statuses)))]
                    model.status[url][site] = st
                    params, want = (url, site, st, ts, depth), st
                elif code == "D":
                    params = (depth,)
                    want = render_dashboard(model.projects, model.status, self.sites)
                elif code == "P":
                    user = f"U{int(rng.integers(0, N_POCS + 20)):06d}"
                    site = self.sites[int(rng.integers(0, len(self.sites)))]
                    project = None if rng.random() < 0.5 else "Project X"
                    model.pocs[user] = site
                    params, want = (user, site, project, ts), site
                elif code in BROWSE:
                    if code == "T":
                        want = model.tables()
                    elif code == "V":
                        want = model.variables(table)
                    else:
                        want = list(model.catalog.get((table, var), []))
                    params = (BROWSE[code], table, var)
                else:
                    existing = model.catalog[(table, var)]
                    if s in dup:
                        value = " " + existing[int(rng.integers(0, len(existing)))]
                        shape += ".duplicate"
                    else:
                        value = f"new_{s}_{int(rng.integers(0, 10**6))}"
                    want = model.append(table, var, value)
                    params = (table, var, value)
                ops.append(Op(KIND[code], params, want, reset=(slot == 0), shape=shape))
        return ops

    # -- state --

    def setup_inputs(self, spark, data_dir: str) -> None:
        from sparkclif.clif import status_store
        from sparkclif.clif.fixtures import sites_df

        self.spark = spark
        self.sites_df = sites_df(spark)
        self.projects_df = spark.createDataFrame(
            self.project_rows,
            "repo_url string, project_name string, description string, "
            "tables_required array<string>, released_by string, released_at timestamp",
        )
        self.base = {
            "status": status_store.init_site_status(self.projects_df, self.sites_df),
            "pocs": spark.createDataFrame(
                self.poc_rows,
                "user_id string, site_name string, project string, assigned_at timestamp",
            ),
            "catalog": spark.createDataFrame(
                self.mcide_rows,
                "table_name string, variable string, value string, line_no int",
            ),
        }
        self.state = dict(self.base)

    def warmup_ops(self) -> list[Op]:
        return self.ops[: len(TEMPLATE)]

    # -- ops --

    def execute(self, op: Op):
        from pyspark.sql import functions as F
        from sparkclif.clif import dashboard, mcide, status_store

        if op.reset:
            self.state = dict(self.base)
        st = self.state
        with self.tracer.span(f"clif.{op.kind}", op.kind):
            if op.kind == "status_write":
                url, site, status, ts, _depth = op.params
                st["status"] = status_store.set_site_status(st["status"], url, site, status, ts)
                rows = (
                    status_store.current_site_status(st["status"])
                    .filter((F.col("repo_url") == url) & (F.col("site_name") == site))
                    .select("status")
                    .collect()
                )
                return rows[0].status if len(rows) == 1 else rows
            if op.kind == "dashboard":
                return dashboard.render_status_table(st["status"], self.projects_df, self.sites_df)
            if op.kind == "poc":
                user, site, project, ts = op.params
                st["pocs"] = status_store.set_poc(st["pocs"], user, site, project, ts)
                return status_store.site_for_user(st["pocs"], user)
            if op.kind == "mcide_list":
                kind, table, var = op.params
                if kind == "tables":
                    return mcide.list_tables(st["catalog"])
                if kind == "variables":
                    return mcide.list_variables(st["catalog"], table)
                return mcide.list_values(st["catalog"], table, var)
            table, var, value = op.params
            try:
                st["catalog"], contents = mcide.append_value(st["catalog"], table, var, value)
            except mcide.DuplicateValueError as e:
                return ("duplicate", str(e))
            return ("ok", contents)

    def check(self, op: Op, out) -> str | None:
        if out != op.want:
            return f"{op.kind}{op.params[:3]}: got {out!r:.200} want {op.want!r:.200}"
        return None

    def corrupt(self, op: Op, out):
        return out + " [corrupted]" if isinstance(out, str) else ("corrupted", out)

    # -- per-layer --

    def layer_metrics(self, recs: list[dict], tracer) -> dict[str, float]:
        from perfbench.harness import median

        out = {}
        for kind in ("status_write", "dashboard", "poc", "mcide_list", "mcide_append"):
            out[f"clif.{kind}_ms"] = median([r["ms"] for r in recs if r["kind"] == kind])
        out["clif.jobs_per_cmd"] = sum(r["jobs"] for r in recs) / len(recs)
        out["clif.tasks_per_cmd"] = sum(r["tasks"] for r in recs) / len(recs)
        max_depth = TEMPLATE.count("S")
        for label, depth in (("1", 1), ("max", max_depth)):
            out[f"clif.status_read_tasks_at_depth.{label}"] = median(
                [r["tasks"] for r in recs if r["kind"] == "status_write" and r["op"].params[4] == depth]
            )
        return out
