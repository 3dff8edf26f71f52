"""Correctness checks of the reference outputs a run's warm-up wrote.

Catalog queries are compared with their DuckDB oracle
(`SparkEntry.oracleSql`) with tools/compare.py's canonical form and rules:
both sides go through arrow, columns sorted by name, rows sorted, each
cell str()-ed, compared exactly; a decimal output column or a type drift
fails. The weekly jobs' JSON artifacts are compared with
values recomputed here from the generated inputs. Each check returns a
list of problems, empty when the output is right.
"""
import datetime as dt
import json
import re
import sys
from pathlib import Path

import duckdb
import pyarrow.dataset as ds

TOOLS = Path(__file__).resolve().parent.parent / "tools"
if not (TOOLS / "compare.py").is_file():
    sys.exit(f"{TOOLS / 'compare.py'} not found: run the benchmark from a checkout of the repository")
sys.path.insert(0, str(TOOLS))
from compare import TABLES, canon_table  # noqa: E402

BENIGN = {("string", "large_string"), ("large_string", "string")}


def _duck(input_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
        except duckdb.Error:
            pass  # a workload generates only the tables it reads
    return con


def catalog(input_dir, ref_dir, oracle_sql, names):
    """Problems per query name, for the queries whose parquet result under
    `ref_dir` does not match the oracle."""
    con = _duck(input_dir)
    bad = {}
    for name in names:
        if name not in oracle_sql:
            bad[name] = ["no oracle"]
            continue
        s_cols, s_rows, s_types = canon_table(ds.dataset(f"{ref_dir}/{name}").to_table())
        try:
            d_cols, d_rows, d_types = canon_table(con.execute(oracle_sql[name]).arrow())
        except duckdb.Error as e:
            bad[name] = [f"oracle error: {e}"]
            continue
        if s_cols != d_cols:
            bad[name] = [f"columns {s_cols} vs oracle {d_cols}"]
            continue
        decimal = {c: (s_types[c], d_types[c]) for c in s_cols
                   if "decimal" in s_types[c] or "decimal" in d_types[c]}
        if decimal:
            bad[name] = [f"decimal output columns {decimal}"]
            continue
        drift = {c: (s_types[c], d_types[c]) for c in s_cols
                 if s_types[c] != d_types[c] and (s_types[c], d_types[c]) not in BENIGN}
        problems = [f"type drift {drift}"] if drift else []
        if len(s_rows) != len(d_rows):
            problems.append(f"{len(s_rows)} rows vs oracle {len(d_rows)}")
        elif s_rows != d_rows:
            diff = sum(a != b for a, b in zip(s_rows, d_rows))
            problems.append(f"{diff}/{len(s_rows)} rows differ from the oracle")
        if problems:
            bad[name] = problems
    return bad


def _load(path):
    """JSON with every object as its ordered list of [key, value] pairs."""
    with open(path) as f:
        return json.load(f, object_pairs_hook=lambda kv: [list(p) for p in kv])


def _close(a, b, tol=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def user_activity(input_dir, out_dir, oracle):
    """fxhealth.json and webusage.json against the `ua_full_pipeline`
    oracle over the same synthesized clients."""
    rows = _duck(input_dir).execute(oracle).fetchall()
    cols = ["submission_date", "country_name", "mau", "avg_hours_usage_daily", "intensity",
            "new_profile_rate", "latest_version_ratio", "top_addons_csv", "has_addon_ratio",
            "top_locales_csv"]
    want = {(str(r[0]), r[1]): dict(zip(cols, r)) for r in rows}
    problems = []
    fx = {}
    for country, series in _load(f"{out_dir}/fxhealth.json"):
        for rec in series:
            rec = dict(rec)
            fx[(rec["date"], country)] = dict(rec["metrics"])
    wu = {}
    for country, series in _load(f"{out_dir}/webusage.json"):
        for rec in series:
            rec = dict(rec)
            wu[(rec["date"], country)] = dict(rec["metrics"])
    if set(fx) != set(want) or set(wu) != set(want):
        return [f"(date, country) keys: fxhealth {len(fx)}, webusage {len(wu)}, oracle {len(want)}"]

    def pct(x):
        return None if x is None else x * 100

    def csv_map(csv):
        d = {}
        for entry in (csv or "").split(";"):
            if entry:
                k, v = entry.rsplit(":", 1)
                d[k] = int(v)
        return d

    for key, o in sorted(want.items()):
        m, w = fx[key], wu[key]
        if m["MAU"] != o["mau"]:
            problems.append(f"{key} MAU {m['MAU']} != {o['mau']}")
        if not _close(m["avg_daily_usage(hours)"], o["avg_hours_usage_daily"], 1e-6):
            problems.append(f"{key} avg_daily_usage {m['avg_daily_usage(hours)']} != {o['avg_hours_usage_daily']}")
        for field, ov in (("avg_intensity", o["intensity"]), ("pct_new_user", pct(o["new_profile_rate"])),
                          ("pct_latest_version", pct(o["latest_version_ratio"]))):
            if not _close(m[field], ov):
                problems.append(f"{key} {field} {m[field]} != {ov}")
        if not _close(w["pct_addon"], pct(o["has_addon_ratio"])):
            problems.append(f"{key} pct_addon {w['pct_addon']} != {pct(o['has_addon_ratio'])}")
        for field, csv in (("locale", o["top_locales_csv"]), ("top10addons", o["top_addons_csv"])):
            got = [(k, round(v / 100 * 1e6)) for k, v in w[field]]
            exp = list(csv_map(csv).items())
            if [k for k, _ in got] != [k for k, _ in exp] or any(
                    abs(a - b) > 1 for (_, a), (_, b) in zip(got, exp)):
                problems.append(f"{key} {field} {got} != {exp}")
    return problems[:10]


PREFIX = {"browser_arch": "browserArch_", "cpu_cores": "cpuCores_", "cpu_vendor": "cpuVendor_",
          "cpu_speed": "cpuSpeed_", "gfx0_vendor_name": "gpuVendor_", "gfx0_model": "gpuModel_",
          "resolution": "resolution_", "memory_gb": "ram_", "os": "osName_", "os_arch": "osArch_",
          "has_flash": "hasFlash_"}
GPU_VENDORS = {"0x1013": "Cirrus Logic", "0x1002": "AMD", "0x8086": "Intel",
               "Intel Open Source Technology Center": "Intel", "0x5333": "S3 Graphics",
               "0x1039": "SIS", "0x1106": "VIA", "0x10de": "NVIDIA", "0x102b": "Matrox",
               "0x15ad": "VMWare", "0x80ee": "Oracle VirtualBox", "0x1414": "Microsoft Basic",
               "0x106b": "Apple"}


def _device_lookup(device_map_path):
    with open(device_map_path) as f:
        raw = json.load(f)
    return {f"0x{v}|0x{d}": f"{fam}-{chip}"
            for v, fams in raw.items() for fam, chips in fams.items()
            for chip, devs in chips.items() for d in devs}


def hardware(hw_input, out_dir, device_map_path, date_from, past_weeks):
    """hwsurvey-weekly.json against the weekly dimension shares, with the
    1% collapse into "Other", recomputed from the input rows."""
    devices = _device_lookup(device_map_path)
    rows = ds.dataset(hw_input).to_table().to_pylist()
    start = dt.date.fromisoformat(date_from)
    expected = []
    for w in range(past_weeks + 1):
        lo = start - dt.timedelta(weeks=w)
        week = [r for r in rows if r["date_from"] == lo and r["date_to"] == lo + dt.timedelta(days=7)]
        total = sum(r["client_count"] for r in week)
        threshold = int(total * 0.01)
        counts = {}
        for r in week:
            arch = ("x86-64" if r["browser_arch"] == "x86-64"
                    else "x86-64" if r["os"] == "Windows_NT" and r["is_wow64"]
                    else "aarch64" if r["browser_arch"] == "aarch64" else "x86")
            keys = {
                "os": r["os"], "browser_arch": r["browser_arch"], "cpu_cores": str(r["cpu_cores"]),
                "cpu_vendor": r["cpu_vendor"], "cpu_speed": r["cpu_speed"],
                "resolution": r["resolution"], "memory_gb": str(r["memory_gb"]),
                "has_flash": "None" if r["has_flash"] is None else str(r["has_flash"]),
                "os_arch": arch,
                "gfx0_vendor_name": GPU_VENDORS.get(r["gfx0_vendor_id"], "Other"),
                "gfx0_model": devices.get(f"{r['gfx0_vendor_id']}|{r['gfx0_device_id']}", "Other"),
            }
            for dim, k in keys.items():
                k = "None" if k is None else k
                counts[(dim, k)] = counts.get((dim, k), 0) + r["client_count"]
        pass1 = {}
        for (dim, k), c in counts.items():
            if dim == "resolution" and k == "0x0":
                k = "Other"
            elif c < threshold and dim not in ("has_flash", "os_arch"):
                k = k.split("-", 1)[0] + "-Other" if dim == "os" else "Other"
            pass1[(dim, k)] = pass1.get((dim, k), 0) + c
        pass2 = {}
        for (dim, k), c in pass1.items():
            if dim == "os" and c < threshold:
                k = "Other"
            pass2[(dim, k)] = pass2.get((dim, k), 0) + c
        flat = sorted([PREFIX[dim] + k, c / total] for (dim, k), c in pass2.items())
        expected.append(flat + [["date", lo.isoformat()]])
    got = _load(f"{out_dir}/hwsurvey-weekly.json")
    if got != expected:
        return [f"hwsurvey-weekly.json differs from the recomputed shares ({len(got)} vs {len(expected)} weeks)"]
    return []


def annotations(buildhub, out_dir, date_to, static_hardware_path):
    """annotations_fxhealth.json against the version-release days
    recomputed from buildhub; the static hardware file byte for byte."""
    builds = []
    for r in ds.dataset(buildhub).to_table().to_pylist():
        b = r["build"]
        day = dt.date.fromisoformat(str(b["build"]["date"])[:10])
        m = re.match(r"^(\d+)", b["target"]["version"] or "")
        if b["target"]["channel"] == "release" and day >= dt.date(2018, 10, 31) and m:
            builds.append((day, int(m.group(1))))
    first_day = {}
    day, end = dt.date(2018, 12, 31), dt.date.fromisoformat(date_to)
    while day <= end:
        vs = [v for d, v in builds if d <= day]
        if vs:
            v = max(vs)
            first_day[v] = min(first_day.get(v, day), day)
        day += dt.timedelta(days=7)
    series = [[["annotation", [["pct_latest_version", f"FF{v}"]]], ["date", d.isoformat()]]
              for v, d in sorted(first_day.items(), key=lambda kv: kv[1], reverse=True)]
    problems = []
    fx = _load(f"{out_dir}/annotations_fxhealth.json")
    if len(fx) < 160 or len({c for c, _ in fx}) != len(fx):
        problems.append(f"annotations_fxhealth.json has {len(fx)} countries")
    problems += [f"annotations_fxhealth.json series of {c} differs" for c, s in fx if s != series][:3]
    with open(static_hardware_path, "rb") as a, open(f"{out_dir}/annotations_hardware.json", "rb") as b:
        if a.read() != b.read():
            problems.append("annotations_hardware.json differs from the packaged file")
    wu = _load(f"{out_dir}/annotations_webusage.json")
    if [c for c, _ in wu] != sorted(c for c, _ in wu) or len(wu) < 160:
        problems.append("annotations_webusage.json keys are not the sorted country list")
    return problems
