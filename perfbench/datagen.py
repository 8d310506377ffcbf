"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the
workload seed: the TPC-H-ish star schema plus the ``events``,
``documents`` and ``embeddings`` tables the registry queries scan, the
CLIF coordination base state, a Slack payload log and a
``repo_documents`` corpus. Sizes depend only on the scale factor, so
two seeds give the same amount of work with different values.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US = np.int64(1_000_000)


def _epoch_us(y: int, m: int, d: int) -> np.int64:
    return np.int64(
        (dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()
    ) * _US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.int64()).cast(
        pa.timestamp("us")
    )


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(50, int(1_500_000 * sf)),
        "lineitem": max(200, int(6_000_000 * sf)),
        "events": max(200, int(1_000_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(8, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # ~1% exact copies and ~1% one-word edits, so the dedup operators
    # find something
    for i in rng.choice(np.arange(1, n), size=max(1, n // 100), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    for i in rng.choice(np.arange(1, n), size=max(1, n // 100), replace=False):
        toks = texts[rng.integers(0, i)].split()
        toks[rng.integers(0, len(toks))] = WORDS[rng.integers(0, len(WORDS))]
        texts[i] = " ".join(toks)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype="int32"))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables (``sparkclif.io.TABLES``) at scale ``sf``."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c, dtype="int64")),
            "c_name": _names("Customer", c),
            "c_nationkey": pa.array(rng.integers(0, 25, c).astype("int32")),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, c)),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s, dtype="int64")),
            "s_name": _names("Supplier", s),
            "s_nationkey": pa.array(rng.integers(0, 25, s).astype("int32")),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, s), 2)),
        }
    )
    p = n["part"]
    keys = np.arange(p, dtype="int64")
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p)
                    )
                ]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)]),
            "p_type": pa.array(rng.choice(PART_TYPES, p)),
            "p_size": pa.array(rng.integers(1, 51, p).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 2)),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, c, o).astype("int64")),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, o), 2)),
            "o_orderdate": _ts(
                _epoch_us(1995, 1, 1) + rng.integers(0, 2404, o) * 86400 * _US
            ),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, o)),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, p, li).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, s, li).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, li).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype("float64")),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], li)),
            "l_shipdate": _ts(
                _epoch_us(1995, 1, 2) + rng.integers(0, 2498, li) * 86400 * _US
            ),
        }
    )
    e = n["events"]
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e, dtype="int64")),
            "ts": _ts(
                _epoch_us(2024, 1, 1)
                + np.sort(rng.integers(0, 30 * 86400 * _US, e))
            ),
            "user_id": pa.array(
                rng.integers(0, max(10, int(15_000 * sf)), e).astype("int64")
            ),
            "event_type": pa.array(rng.choice(EVENT_TYPES, e)),
            "value": pa.array(
                np.maximum(0.01, np.round(rng.exponential(50.0, e), 2))
            ),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One parquet file per table, named as ``sparkclif.io.table`` expects."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))


# ---- CLIF coordination inputs -------------------------------------------

def repo_url(i: int) -> str:
    return f"https://github.com/Common-Longitudinal-ICU-data-Format/project-{i:03d}"


def project_rows(n_projects: int, rng: np.random.Generator) -> list[tuple]:
    """(repo_url, project_name, description, tables_required, released_by,
    released_at) rows. Every fifth name is longer than 25 characters, so
    the dashboard's truncation path is exercised."""
    base = dt.datetime(2025, 1, 1, 8, 0, 0)
    rows = []
    for i in range(n_projects):
        name = f"Project {i:03d}"
        if i % 5 == 0:
            name += " Longitudinal Outcomes Study"
        tables = [t for t in ("vitals", "labs", "adt") if rng.random() < 0.5]
        rows.append(
            (
                repo_url(i),
                name,
                f"description {i}",
                tables,
                f"U{rng.integers(0, 10**7):07d}",
                base + dt.timedelta(hours=i),
            )
        )
    return rows


def mcide_rows() -> list[tuple]:
    """(table_name, variable, value, line_no) rows of an mCIDE catalog:
    8 tables x 3 variables x 12 values, plus one ``00_`` template dir
    that ``list_tables`` must hide."""
    rows = []
    for t in range(8):
        table = f"table_{t}" if t % 3 else f"resp_support_{t}"
        for v in range(3):
            var = f"{table.split('_')[0]}_var_{v}"
            for k in range(12):
                rows.append((table, var, f"value_{t}_{v}_{k}", k + 1))
    rows.append(("00_template", "template_var", "placeholder", 1))
    return rows


def slack_payloads(
    seed: int, n_events: int, n_projects: int, n_users: int, poc_share: float
) -> list[tuple[float, str]]:
    """A Slack interactivity log: project releases and one POC
    assignment per user first, then POC reassignments (``poc_share`` of
    the rest) and dashboard status clicks in a seeded order; ~2% of
    clicks come from users never assigned (the error channel)."""
    from sparkclif.clif.fixtures import SITES, STATUSES

    rng = np.random.default_rng(seed)
    t0 = 1_735_700_000.0
    out: list[tuple[float, str]] = []
    for i in range(n_projects):
        body = {
            "type": "view_submission",
            "user": {"id": f"UREL{i:04d}"},
            "view": {
                "callback_id": "clif_project_modal",
                "state": {
                    "values": {
                        "github_url_block": {"github_url": {"value": repo_url(i)}},
                        "project_name_block": {
                            "project_name": {"value": f"Project {i:03d}"}
                        },
                    }
                },
            },
        }
        out.append((t0 + i, json.dumps(body)))
    t = t0 + n_projects
    for i in range(n_users):
        out.append((t, _poc_body(f"U{i:06d}", SITES[i % len(SITES)])))
        t += 1
    kinds = rng.random(n_events - len(out))
    users = rng.integers(0, int(n_users * 1.02) + 1, len(kinds))
    projects = rng.integers(0, n_projects, len(kinds))
    statuses = rng.integers(1, len(STATUSES), len(kinds))
    sites = rng.integers(0, len(SITES), len(kinds))
    for k, u, p, s, site in zip(kinds, users, projects, statuses, sites):
        t += 0.001
        if k < poc_share:
            out.append((t, _poc_body(f"U{u:06d}", SITES[site])))
        else:
            body = {
                "type": "block_actions",
                "user": {"id": f"U{u:06d}"},
                "actions": [
                    {
                        "action_id": "status_update",
                        "value": f"{repo_url(p)}|{STATUSES[s]}",
                        "action_ts": f"{t:.3f}",
                    }
                ],
            }
            out.append((t, json.dumps(body)))
    return out


def _poc_body(user: str, site: str) -> str:
    return json.dumps(
        {
            "type": "view_submission",
            "user": {"id": "UADMIN"},
            "view": {
                "callback_id": "clif_site_poc_modal",
                "state": {
                    "values": {
                        "site_block": {
                            "site_select": {"selected_option": {"value": site}}
                        },
                        "user_block": {"user_select": {"selected_user": user}},
                    }
                },
            },
        }
    )


def repo_documents(seed: int, n_repos: int) -> list[tuple[str, str, str]]:
    """(repo_url, path, body) rows: each repo has a project.yaml, a
    metadata.json, a README.md, or nothing, in equal shares."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_repos):
        url = f"https://github.com/org/repo-{i:05d}"
        kind = i % 4
        tables = [t for t in ("vitals", "labs", "adt", "meds") if rng.random() < 0.5]
        if kind == 0:
            body = f"project_name: Yaml {i}\ndescription: from yaml {i}\n"
            body += "tables_required:\n" + "".join(f"  - {t}\n" for t in tables)
            rows.append((url, "project.yaml", body))
        elif kind == 1:
            body = json.dumps(
                {"name": f"Json {i}", "description": f"from json {i}",
                 "tables_required": tables}
            )
            rows.append((url, "metadata.json", body))
        elif kind == 2:
            body = (
                f"# Readme {i}\n\nAnalysis number {i}.\n"
                f"Tables required: {', '.join(tables) or 'none'}\nMore text.\n"
            )
            rows.append((url, "README.md", body))
    return rows


def repo_urls(n_repos: int) -> list[str]:
    return [f"https://github.com/org/repo-{i:05d}" for i in range(n_repos)]
