"""The benchmark's two workloads.

Each workload writes its inputs from a seed with numpy/pyarrow, derives the
expected verdicts from the generator's closed form (never from the
package's own output), and then drives the package's public entry points
once per run:

- ``landing_files``: ``runner.run_validation`` over a landing dir;
- ``tokens``: ``manifest.validate_partitioned`` scanning every row of a
  hive-partitioned tokens table (:class:`TokensScan`), then
  ``cli.main(["pack", ..., "--verify"])`` on a tokens dataset
  (:class:`PackTokens`).

``reset`` runs untimed before every run and puts the output side back to
its pre-run state, so runs are independent. ``check`` compares one run's
outputs with the expectations and returns ``(attempted, failed, notes)``;
an operation is the run itself plus each file, partition or packed group
whose verdict or output is checked.
"""

from __future__ import annotations

import contextlib
import copy
import io
import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = 50257


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def wipe(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def token_lists(rng, lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, values) of random token lists with the given row lengths,
    kept as numpy so planted edits and oracles work on them directly."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    values = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    return offsets, values


def list_array(offsets: np.ndarray, values: np.ndarray) -> pa.Array:
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def gather_lists(
    offsets: np.ndarray, values: np.ndarray, rows: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, values) of the list rows ``rows``, in that order."""
    lens = offsets[rows + 1] - offsets[rows]
    new_off = np.zeros(len(rows) + 1, dtype=np.int32)
    np.cumsum(lens, out=new_off[1:])
    idx = (
        np.arange(int(new_off[-1]))
        - np.repeat(new_off[:-1], lens)
        + np.repeat(offsets[rows], lens)
    )
    return new_off, values[idx]


class Workload:
    name = ""
    entry = ""
    warmup_runs = 1  # untimed runs before the timed window

    def __init__(self, work: str, seed: int | list[int]):
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.expect: dict = {}
        self.input_rows = 0  # rows one run decides
        self.input_bytes = 0

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        self.spark = spark

    def reset(self) -> None:
        raise NotImplementedError

    def run(self):
        raise NotImplementedError

    def check(self, result, expect=None) -> tuple[int, int, list]:
        raise NotImplementedError

    def out_bytes(self) -> int:
        raise NotImplementedError

    def corrupted_expectation(self) -> dict:
        """A copy of the expectations with one verdict flipped, for the
        oracle self-check."""
        raise NotImplementedError

    def partition_summary(self, result):
        """The ``validate_partitioned`` summary in one run's result, if the
        workload calls it."""
        return None


# -----------------------------------------------------------------------------
# landing_files
# -----------------------------------------------------------------------------

N_LANDING_FILES = 24
LANDING_ROWS = 2000
FAIL_EVERY = 8  # one file in eight carries planted violations
COUNTRIES = ["GB", "FR", "DE", "ES", "IT"]

EVENTS_META = {
    "name": "events",
    "file_format": "csv",
    "columns": [
        {"name": "event_id", "type": "int64", "nullable": False, "minimum": 0},
        {"name": "code", "type": "string", "pattern": "[A-Z]{3}-[0-9]{4}$"},
        {"name": "amount", "type": "int64", "minimum": 0, "maximum": 100000},
        {"name": "event_date", "type": "date64",
         "datetime_format": "%Y-%m-%d"},
    ],
}
USERS_META = {
    "name": "users",
    "file_format": "parquet",
    "columns": [
        {"name": "user_id", "type": "int64", "nullable": False, "minimum": 1},
        {"name": "country", "type": "string", "enum": COUNTRIES},
        {"name": "age", "type": "int32", "minimum": 0, "maximum": 120},
        {"name": "email", "type": "string",
         "pattern": "[a-z0-9.]+@[a-z]+[.]com$"},
    ],
}
# planted defect kinds: (column, test, bad value)
EVENTS_DEFECTS = [
    ("amount", "min_max_test", None),
    ("code", "pattern_test", "bad-code"),
    ("event_date", "date_format_test", "2024-13-45"),
]
USERS_DEFECTS = [
    ("country", "enum_test", "XX"),
    ("age", "min_max_test", None),
    ("email", "pattern_test", "no-at-sign"),
]
# every (column, test) the metadata compiles, per table
EVENTS_TESTS = [
    ("event_id", "nullable_test"), ("event_id", "min_max_test"),
    ("code", "pattern_test"), ("amount", "min_max_test"),
    ("event_date", "date_format_test"),
]
USERS_TESTS = [
    ("user_id", "nullable_test"), ("user_id", "min_max_test"),
    ("country", "enum_test"), ("age", "min_max_test"),
    ("email", "pattern_test"),
]


class LandingFiles(Workload):
    name = "landing_files"
    entry = "runner.run_validation"
    # a run is short, and its CPU still fell by a tenth from the second
    # run to the third
    warmup_runs = 2

    def generate(self) -> None:
        rng = self.rng
        self.land = os.path.join(self.work, "land")
        self.out_dirs = {
            k: os.path.join(self.work, k)
            for k in ("pass", "fail", "log", "viol")
        }
        meta_dir = os.path.join(self.work, "meta")
        os.makedirs(meta_dir, exist_ok=True)
        metas = {"events": EVENTS_META, "users": USERS_META}
        for t, m in metas.items():
            with open(os.path.join(meta_dir, f"{t}.json"), "w") as f:
                json.dump(m, f)
        failing = set(
            rng.choice(
                N_LANDING_FILES, N_LANDING_FILES // FAIL_EVERY, replace=False
            ).tolist()
        )
        files = {}
        for i in range(N_LANDING_FILES):
            table = "events" if i % 2 == 0 else "users"
            defect = None
            if i in failing:
                kinds = EVENTS_DEFECTS if table == "events" else USERS_DEFECTS
                defect = kinds[int(rng.integers(0, len(kinds)))]
            n_bad = int(rng.integers(1, 31)) if defect else 0
            rel = f"{table}/{table}_{i:03d}." + (
                "csv" if table == "events" else "parquet"
            )
            path = os.path.join(self.land, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            bad_rows = rng.choice(LANDING_ROWS, n_bad, replace=False)
            if table == "events":
                self._write_events(path, i, defect, bad_rows)
            else:
                self._write_users(path, i, defect, bad_rows)
            files[path] = {
                "table": table,
                "failing": [list(defect[:2])] if defect else [],
                "viol_rows": n_bad,
            }
            self.input_bytes += os.path.getsize(path)
        self.input_rows = N_LANDING_FILES * LANDING_ROWS
        table_cfg = {
            t: {
                "pattern": rf"^{t}/{t}_\d+\.(csv|parquet)$",
                "metadata": os.path.join(meta_dir, f"{t}.json"),
                "required": True,
                "log_verbosity": 5,
            }
            for t in metas
        }
        self.config = {
            "land-base-path": self.land,
            "pass-base-path": self.out_dirs["pass"],
            "fail-base-path": self.out_dirs["fail"],
            "log-base-path": self.out_dirs["log"],
            "violations-base-path": self.out_dirs["viol"],
            "run-parallel": True,
            "tables": table_cfg,
        }
        self.expect = {"files": files}

    def _write_events(self, path, i, defect, bad_rows) -> None:
        rng = self.rng
        n = LANDING_ROWS
        letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
        pre = letters[rng.integers(0, 26, (n, 3))]
        codes = [
            f"{a}{b}{c}-{d:04d}"
            for (a, b, c), d in zip(pre, rng.integers(0, 10000, n))
        ]
        amount = rng.integers(0, 100001, n)
        days = rng.integers(0, 365, n)
        dates = (
            np.datetime64("2024-01-01") + days.astype("timedelta64[D]")
        ).astype(str).tolist()
        if defect is not None:
            col, _test, bad = defect
            for r in bad_rows:
                if col == "amount":
                    amount[r] = 100001 + int(rng.integers(0, 1000))
                elif col == "code":
                    codes[r] = bad
                else:
                    dates[r] = bad
        tbl = pa.table({
            "event_id": pa.array(np.arange(n) + i * n, pa.int64()),
            "code": pa.array(codes),
            "amount": pa.array(amount, pa.int64()),
            "event_date": pa.array(dates),
        })
        pacsv.write_csv(tbl, path)

    def _write_users(self, path, i, defect, bad_rows) -> None:
        rng = self.rng
        n = LANDING_ROWS
        country = np.array(COUNTRIES)[rng.integers(0, len(COUNTRIES), n)]
        country = country.astype(object)
        age = rng.integers(0, 121, n).astype(np.int32)
        email = [f"u{j}.x@mail.com" for j in rng.integers(0, 10**6, n)]
        if defect is not None:
            col, _test, bad = defect
            for r in bad_rows:
                if col == "country":
                    country[r] = bad
                elif col == "age":
                    age[r] = 121 + int(rng.integers(0, 100))
                else:
                    email[r] = bad
        tbl = pa.table({
            "user_id": pa.array(np.arange(n) + 1 + i * n, pa.int64()),
            "country": pa.array(country.tolist(), pa.string()),
            "age": pa.array(age, pa.int32()),
            "email": pa.array(email),
        })
        pq.write_table(tbl, path)

    def reset(self) -> None:
        wipe(*self.out_dirs.values())

    def run(self):
        from data_linter_spark import runner

        return runner.run_validation(copy.deepcopy(self.config), self.spark)

    def check(self, result, expect=None) -> tuple[int, int, list]:
        expect = expect or self.expect
        files = expect["files"]
        notes = []
        responses = {r["original-path"]: r for r in result["responses"]}
        want_all = all(not f["failing"] for f in files.values())
        run_ok = (
            set(responses) == set(files)
            and result["all_tables_passed"] == want_all
        )
        if not run_ok:
            notes.append("run: file set or all_tables_passed differs")
        failed = 0 if run_ok else 1
        for path, f in files.items():
            problems = self._check_file(responses.get(path), f)
            if problems:
                failed += 1
                notes.append(f"{os.path.basename(path)}: {problems}")
        return 1 + len(files), failed, notes

    def _check_file(self, resp, f) -> str:
        if resp is None:
            return "no response"
        want_valid = not f["failing"]
        if resp["valid"] != want_valid:
            return f"valid={resp['valid']}"
        tests = EVENTS_TESTS if f["table"] == "events" else USERS_TESTS
        body = resp["response"]
        failing = {tuple(x) for x in f["failing"]}
        for col, test in tests:
            got = body.get(col, {}).get(test, {}).get("valid")
            if got is not ((col, test) not in failing):
                return f"{col}.{test} valid={got}"
        archived = resp.get("archived-path", "")
        route = self.out_dirs["pass" if want_valid else "fail"]
        if not (archived.startswith(route) and os.path.isfile(archived)):
            return "not routed to the right dir"
        if want_valid:
            return ""
        vpath = resp.get("violations-path")
        if not vpath or pq.read_table(vpath).num_rows != f["viol_rows"]:
            return "violations sink row count"
        return ""

    def out_bytes(self) -> int:
        return sum(dir_bytes(d) for d in self.out_dirs.values())

    def corrupted_expectation(self) -> dict:
        exp = copy.deepcopy(self.expect)
        path = sorted(exp["files"])[0]
        f = exp["files"][path]
        f["failing"] = [] if f["failing"] else [["event_id", "nullable_test"]]
        return exp


# -----------------------------------------------------------------------------
# tokens table scan
# -----------------------------------------------------------------------------


def write_hive(root: str, part_col: str, parts: dict) -> int:
    """Write ``{value: pyarrow.Table}`` as ``root/part_col=value/part-0.parquet``
    (one file per partition); returns bytes written."""
    total = 0
    for value, tbl in parts.items():
        d = os.path.join(root, f"{part_col}={value}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "part-0.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


def read_manifest_dir(path: str) -> dict:
    """partition_id -> record, read straight from the record files."""
    out = {}
    for f in os.listdir(path):
        if f.startswith("part-") and f.endswith(".json"):
            with open(os.path.join(path, f)) as fh:
                rec = json.load(fh)
            out[rec["partition_id"]] = rec
    return out


SCAN_ROWS = 300_000
SCAN_MAX_LEN = 48
SCAN_STRICT_N_TOK = 44  # strict suite: n_tok above this violates
SCAN_HOT_FRAC = 0.30
SCAN_N_SOURCES = 37  # plus the hot source: 38 partitions
DUP_EVERY = 1000

SCAN_META = {
    "name": "tokens",
    "file_format": "parquet",
    "columns": [
        {"name": "doc_id", "type": "string", "nullable": False,
         "pattern": r"doc-\d+", "unique": True},
        {"name": "tokens", "type": "list<int32>", "nullable": False,
         "minimum": 0, "maximum": VOCAB - 1,
         "minLength": 1, "maxLength": SCAN_MAX_LEN},
        {"name": "n_tok", "type": "int32", "nullable": False,
         "minimum": 1, "maximum": SCAN_STRICT_N_TOK},
        {"name": "source", "type": "string", "nullable": False},
    ],
}


SCAN_TESTS = [
    ("doc_id", "pattern_test"), ("doc_id", "nullable_test"),
    ("tokens", "min_max_test"), ("tokens", "min_max_length_test"),
    ("tokens", "nullable_test"), ("n_tok", "min_max_test"),
    ("n_tok", "nullable_test"), ("source", "nullable_test"),
]


def viol_alias(col: str, test: str) -> str:
    return f"__viol__{col}__{test}"


class TokensScan(Workload):
    """Every partition fails the strict n_tok bound and carries pattern and
    out-of-vocab defects, so no partition is footer-provable and every row
    is scanned; planted duplicate doc_ids fail the global unique check."""

    name = "tokens_scan"
    entry = "manifest.validate_partitioned"

    def generate(self) -> None:
        rng = self.rng
        n = SCAN_ROWS
        ids = np.arange(n)
        hot = rng.random(n) < SCAN_HOT_FRAC
        src_idx = np.where(hot, SCAN_N_SOURCES, rng.integers(0, SCAN_N_SOURCES, n))
        names = [f"source_{k}" for k in range(SCAN_N_SOURCES)] + ["common_crawl"]
        lengths = rng.integers(1, SCAN_MAX_LEN + 1, n).astype(np.int32)
        offsets, values = token_lists(rng, lengths)
        # planted out-of-vocab tokens: one per chosen row
        oov_rows = np.flatnonzero(rng.random(n) < 0.002)
        values[offsets[oov_rows]] = VOCAB + rng.integers(0, 100, len(oov_rows))
        oov = np.zeros(n, bool)
        oov[oov_rows] = True
        # duplicates: row k*DUP_EVERY reuses row k*DUP_EVERY-1's doc_id;
        # bad patterns avoid both rows of a duplicate pair
        dup_rows = ids[(ids % DUP_EVERY == 0) & (ids > 0)]
        base = ids.copy()
        base[dup_rows] -= 1
        in_pair = (ids % DUP_EVERY == 0) | (ids % DUP_EVERY == DUP_EVERY - 1)
        bad_pat = (rng.random(n) < 0.001) & ~in_pair
        doc_ids = np.char.add(np.where(bad_pat, "dox-", "doc-"), base.astype(str))
        long = lengths > SCAN_STRICT_N_TOK

        self.table = os.path.join(self.work, "tokens")
        parts, expect_parts = {}, {}
        for k, name in enumerate(names):
            sel = np.flatnonzero(src_idx == k)
            if not len(sel):
                continue
            sub_off, sub_vals = gather_lists(offsets, values, sel)
            parts[name] = pa.table({
                "doc_id": pa.array(doc_ids[sel]),
                "tokens": list_array(sub_off, sub_vals),
                "n_tok": pa.array(lengths[sel], pa.int32()),
            })
            counters = {viol_alias(c, t): 0 for c, t in SCAN_TESTS}
            counters[viol_alias("doc_id", "pattern_test")] = int(bad_pat[sel].sum())
            counters[viol_alias("tokens", "min_max_test")] = int(oov[sel].sum())
            counters[viol_alias("n_tok", "min_max_test")] = int(long[sel].sum())
            expect_parts[name] = {
                "rows": len(sel),
                "status": "fail" if any(counters.values()) else "pass",
                "violations": counters,
            }
        self.input_bytes = write_hive(self.table, "source", parts)
        self.input_rows = n
        self.manifest_dir = os.path.join(self.work, "manifest")
        self.expect = {
            "partitions": expect_parts,
            "duplicate_keys": len(dup_rows),
            "duplicate_rows": 2 * len(dup_rows),
        }

    def prepare(self, spark) -> None:
        super().prepare(spark)
        # the DataFrame keeps its file listing, so runs reuse it; listing
        # on the driver skips a one-off Spark job of one task per partition
        # dir (the session conf is restored right after)
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "1000")
        try:
            self.df = spark.read.parquet(self.table)
        finally:
            spark.conf.set(key, old)
        from data_linter_spark.metadata import Metadata

        self.meta = Metadata(SCAN_META)
        self.meta.set_col_type_category_from_types()

    def reset(self) -> None:
        wipe(self.manifest_dir)

    def run(self):
        from data_linter_spark import manifest

        return manifest.validate_partitioned(
            self.spark, self.df, self.meta, "source",
            manifest.PartitionManifest(self.manifest_dir),
            table_path=self.table,
        )

    def _check_records(self, records, want_parts, notes) -> int:
        failed = 0
        for pid, want in want_parts.items():
            rec = records.get(pid)
            ok = (
                rec is not None
                and rec["status"] == want["status"]
                and rec["metrics"].get("rows") == want["rows"]
                and rec["metrics"].get("violations") == want["violations"]
            )
            if not ok:
                failed += 1
                notes.append(f"partition {pid}: {rec and rec.get('metrics')}")
        return failed

    def check(self, summary, expect=None) -> tuple[int, int, list]:
        expect = expect or self.expect
        parts = expect["partitions"]
        notes = []
        run_ok = (
            summary["partitions_total"] == len(parts)
            and summary["partitions_validated"] == len(parts)
            and summary["partitions_proven_by_stats"] == 0
            and summary["partitions_skipped_resume"] == 0
            and summary["all_passed"] is False
        )
        uq = summary["global_checks"].get("doc_id.unique_test", {})
        global_ok = (
            uq.get("valid") is False
            and uq.get("duplicate_keys") == expect["duplicate_keys"]
            and uq.get("duplicate_rows") == expect["duplicate_rows"]
        )
        if not run_ok:
            notes.append(f"summary: {summary}")
        if not global_ok:
            notes.append(f"unique: {uq}")
        records = read_manifest_dir(self.manifest_dir)
        failed = (not run_ok) + (not global_ok)
        failed += self._check_records(records, parts, notes)
        return 2 + len(parts), failed, notes

    def out_bytes(self) -> int:
        return dir_bytes(self.manifest_dir)

    def corrupted_expectation(self) -> dict:
        exp = copy.deepcopy(self.expect)
        exp["duplicate_keys"] += 1
        return exp


# -----------------------------------------------------------------------------
# pack_tokens
# -----------------------------------------------------------------------------

PACK_ROWS = 30_000
PACK_MAX_LEN = 64
PACK_CONTEXT = 256
PACK_FILES = 8
PACK_GROUPS = ["common_crawl"] + [f"source_{k}" for k in range(7)]


class PackTokens(Workload):
    name = "pack_tokens"
    entry = "cli.main pack --verify"

    def generate(self) -> None:
        rng = self.rng
        n = PACK_ROWS
        doc_id = rng.permutation(n).astype(np.int64) * 7 + 3
        hot = rng.random(n) < 0.30
        grp = np.where(hot, 0, rng.integers(1, len(PACK_GROUPS), n))
        lengths = rng.integers(1, PACK_MAX_LEN + 1, n).astype(np.int32)
        offsets, values = token_lists(rng, lengths)
        self.input = os.path.join(self.work, "tokens_in")
        self.output = os.path.join(self.work, "packed")
        os.makedirs(self.input, exist_ok=True)
        tbl = pa.table({
            "doc_id": pa.array(doc_id),
            "source": pa.array(np.array(PACK_GROUPS)[grp]),
            "tokens": list_array(offsets, values),
        })
        step = math.ceil(n / PACK_FILES)
        for f in range(PACK_FILES):
            path = os.path.join(self.input, f"part-{f}.parquet")
            pq.write_table(tbl.slice(f * step, step), path)
            self.input_bytes += os.path.getsize(path)
        self.input_rows = n
        groups = {}
        for g, name in enumerate(PACK_GROUPS):
            sel = np.flatnonzero(grp == g)
            sel = sel[np.argsort(doc_id[sel], kind="stable")]
            _, stream = gather_lists(offsets, values, sel)
            groups[name] = {
                "n_windows": math.ceil(len(stream) / PACK_CONTEXT),
                "stream": stream,
            }
        self.expect = {"groups": groups}

    def reset(self) -> None:
        wipe(self.output)
        # cli pack leaves its range-partition persist pinned; release it so
        # one run's cache does not carry into the next
        self.spark.catalog.clearCache()

    def run(self):
        from data_linter_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main([
                "pack", "--input", self.input, "--output", self.output,
                "--group-col", "source", "--order-col", "doc_id",
                "--tokens-col", "tokens",
                "--context-len", str(PACK_CONTEXT), "--verify",
            ])
        return {"rc": rc, "printed": json.loads(buf.getvalue().strip())}

    def check(self, result, expect=None) -> tuple[int, int, list]:
        expect = expect or self.expect
        groups = expect["groups"]
        notes = []
        printed = result["printed"]
        run_ok = (
            result["rc"] == 0
            and printed["verified"] is True
            and printed["groups"]
            == {g: w["n_windows"] for g, w in groups.items()}
        )
        if not run_ok:
            notes.append(f"cli: {result}")
        failed = int(not run_ok)
        for g, want in groups.items():
            problem = self._check_group(g, want)
            if problem:
                failed += 1
                notes.append(f"group {g}: {problem}")
        return 1 + len(groups), failed, notes

    def _check_group(self, g: str, want: dict) -> str:
        d = os.path.join(self.output, f"source={g}")
        if not os.path.isdir(d):
            return "missing"
        tbl = pq.read_table(d, columns=["seq_id", "n_tokens", "tokens"])
        tbl = tbl.sort_by("seq_id")
        seq = tbl["seq_id"].to_numpy()
        n_tok = tbl["n_tokens"].to_numpy()
        if len(seq) != want["n_windows"] or not np.array_equal(
            seq, np.arange(len(seq))
        ):
            return "seq_ids not dense"
        if len(n_tok) and np.any(n_tok[:-1] != PACK_CONTEXT):
            return "a non-final window is not full"
        flat = tbl["tokens"].combine_chunks().flatten().to_numpy()
        if not np.array_equal(flat, want["stream"]):
            return "windows do not reproduce the token stream"
        return ""

    def out_bytes(self) -> int:
        return dir_bytes(self.output)

    def corrupted_expectation(self) -> dict:
        exp = copy.deepcopy(self.expect)
        g = exp["groups"]["common_crawl"]
        g["stream"] = g["stream"].copy()
        g["stream"][0] += 1
        return exp


# -----------------------------------------------------------------------------
# tokens: scan, then pack
# -----------------------------------------------------------------------------


class Tokens(Workload):
    """One run validates the tokens table (:class:`TokensScan`), then packs
    the tokens dataset (:class:`PackTokens`): the scan and the write-heavy
    path in one process, each on its own generated input."""

    name = "tokens"
    entry = "manifest.validate_partitioned + cli.main pack --verify"

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.scan = TokensScan(work, [seed, 0])
        self.pack = PackTokens(work, [seed, 1])
        self.parts = {"scan": self.scan, "pack": self.pack}

    def generate(self) -> None:
        for p in self.parts.values():
            p.generate()
        self.input_rows = sum(p.input_rows for p in self.parts.values())
        self.input_bytes = sum(p.input_bytes for p in self.parts.values())
        self.expect = {k: p.expect for k, p in self.parts.items()}

    def prepare(self, spark) -> None:
        super().prepare(spark)
        for p in self.parts.values():
            p.prepare(spark)

    def reset(self) -> None:
        for p in self.parts.values():
            p.reset()

    def run(self):
        return {k: p.run() for k, p in self.parts.items()}

    def check(self, result, expect=None) -> tuple[int, int, list]:
        expect = expect or self.expect
        attempted, failed, notes = 0, 0, []
        for k, p in self.parts.items():
            a, f, n = p.check(result[k], expect[k])
            attempted, failed, notes = attempted + a, failed + f, notes + n
        return attempted, failed, notes

    def out_bytes(self) -> int:
        return sum(p.out_bytes() for p in self.parts.values())

    def corrupted_expectation(self) -> dict:
        return {**self.expect, "pack": self.pack.corrupted_expectation()}

    def partition_summary(self, result):
        return result["scan"]


WORKLOADS = {w.name: w for w in (LandingFiles, Tokens)}
