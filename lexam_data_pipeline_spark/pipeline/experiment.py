"""Experiment orchestration (SURVEY §2.9 ST1/ST3/ST5, §2.1 S6-S8; ref
backend/app/routers/{experiments,generation,judging}.py).

The reference runs each stage in a daemon thread with a status machine on
the experiment row (``created → generating → generated → judging →
completed / error``) and a 409 guard against concurrent stage starts.
Here the stages are driver-side jobs over parquet sinks:

* control table ``experiments.json`` — a few rows that live on the
  driver, kept as one JSON commit file replaced with ``os.replace`` per
  status transition (the idea of Delta's JSON commit log): a save or a
  status change runs no Spark job and is crash-atomic.
  :meth:`ExperimentStore.experiments` still serves it as a DataFrame
  (a ``LocalRelation``),
* append-only ``answers/`` and ``judgments/`` sinks (S6) with
  deterministic row ids, so task retries and stage re-runs are idempotent
  (ST3: the anti-join in run_generation/run_judging consults the sink),
* predicate/cascade deletes (S7/S8) on the sinks as anti-join rewrites
  with a write-new-then-swap of the sink directory.

Failure isolation (ST4) lives inside the LLM map (error column); a stage
only transitions to ``error`` on driver-level failure, mirroring the
reference's try/except around the whole loop
(services/generation.py:130-139).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import TimestampType, _make_type_verifier

from lexam_data_pipeline_spark.catalog import local_rows
from lexam_data_pipeline_spark.model import (
    ANSWERS_SCHEMA,
    EXPERIMENTS_SCHEMA,
    JUDGMENTS_SCHEMA,
    STATUSES,
)
from lexam_data_pipeline_spark.pipeline.generation import run_generation
from lexam_data_pipeline_spark.pipeline.judging import run_judging
from lexam_data_pipeline_spark.pipeline.progress import ProgressStore


class ConcurrentStageError(RuntimeError):
    """Reference's HTTP 409 (routers/generation.py:18-19)."""


#: The control table's commit file under the store root.
CONTROL_FILE = "experiments.json"
_TS_FIELDS = frozenset(
    f.name for f in EXPERIMENTS_SCHEMA.fields if isinstance(f.dataType, TimestampType)
)
_verify_experiment = _make_type_verifier(EXPERIMENTS_SCHEMA)


def _ts_to_json(value: datetime | None) -> str | None:
    # naive values are local time, as Spark's own TimestampType reads them
    return None if value is None else value.astimezone(timezone.utc).isoformat()


class ExperimentStore:
    """JSON control file for experiments + parquet answer/judgment sinks."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _read(self, name: str, schema) -> DataFrame:
        path = self._path(name)
        if not os.path.exists(path) or not any(
            f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
        ):
            return local_rows(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(path)

    def _overwrite_atomic(self, df: DataFrame, name: str) -> None:
        """Rewrite a sink (``answers`` or ``judgments``) via
        write-new-then-swap: never reads and overwrites the same files
        (Spark's lazy scans would race).  The Delta-backed version of this
        store would be a transactional MERGE/DELETE instead.  The control
        table does not come through here: it is a JSON commit file (see
        :meth:`_commit_experiments`).

        NOT crash-atomic: a crash between the two renames leaves no live
        ``name`` directory — the data survives only in the newest
        ``.{name}.old-*`` dir.  :meth:`recover` restores it on the next
        start.  Single-driver only (like the whole store: the 409 guard
        in ExperimentRunner is read-then-write); multi-driver deployments
        need a transactional table format (Delta/Iceberg)."""
        final = self._path(name)
        tmp = self._path(f".{name}.tmp-{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(tmp)
        old = self._path(f".{name}.old-{uuid.uuid4().hex[:8]}")
        if os.path.exists(final):
            os.rename(final, old)
        os.rename(tmp, final)
        if os.path.exists(old):
            shutil.rmtree(old)

    def recover(self, name: str) -> bool:
        """Restore ``name`` from the newest ``.old-*`` snapshot if a crash
        mid-swap left no live directory.  Returns True if a restore
        happened.  Call at store startup for each table; leftover ``.tmp``
        entries are incomplete writes and are removed (for
        ``experiments`` that is a stale commit file — the live
        ``experiments.json`` is replaced in one ``os.replace``, so it is
        never half-written and never needs restoring)."""
        final = self._path(name)
        for entry in os.listdir(self.root):
            if entry.startswith(f".{name}.tmp-"):
                stale = os.path.join(self.root, entry)
                if os.path.isdir(stale):
                    shutil.rmtree(stale)
                else:
                    os.remove(stale)
        if os.path.exists(final):
            return False
        olds = sorted(
            (
                os.path.join(self.root, entry)
                for entry in os.listdir(self.root)
                if entry.startswith(f".{name}.old-")
            ),
            key=os.path.getmtime,
        )
        if not olds:
            return False
        os.rename(olds[-1], final)
        for stale in olds[:-1]:
            shutil.rmtree(stale)
        return True

    # -- experiments control table ------------------------------------------

    def _load_experiments(self) -> list[dict]:
        try:
            with open(self._path(CONTROL_FILE)) as f:
                return json.load(f)
        except FileNotFoundError:
            return []

    def _commit_experiments(self, rows: list[dict]) -> None:
        """Replace the control file: write a temp file beside it, fsync,
        then ``os.replace`` — atomic on POSIX, so a crash leaves either
        the old or the new file live, plus at most a stale ``.tmp`` file
        that :meth:`recover` removes."""
        tmp = self._path(f".experiments.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(rows, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._path(CONTROL_FILE))

    def experiments(self) -> DataFrame:
        rows = [
            tuple(
                datetime.fromisoformat(r[n]) if n in _TS_FIELDS and r[n] else r[n]
                for n in EXPERIMENTS_SCHEMA.names
            )
            for r in self._load_experiments()
        ]
        return local_rows(self.spark, rows, EXPERIMENTS_SCHEMA)

    def get_experiment(self, exp_id: int) -> dict | None:
        d = next((r for r in self._load_experiments() if r["id"] == exp_id), None)
        if d is None:
            return None
        for n in _TS_FIELDS:
            if d[n]:  # naive local time, as a collected Spark row gives it
                d[n] = datetime.fromisoformat(d[n]).astimezone().replace(tzinfo=None)
        if d.get("filter_config"):
            d["filter_config"] = json.loads(d["filter_config"])
        return d

    def save_experiment(self, experiment: dict) -> None:
        exp = dict(experiment)
        if isinstance(exp.get("filter_config"), dict):
            exp["filter_config"] = json.dumps(exp["filter_config"])
        exp.setdefault("status", "created")
        exp["id"] = int(exp["id"])
        _verify_experiment(tuple(exp.get(n) for n in EXPERIMENTS_SCHEMA.names))
        row = {
            n: _ts_to_json(exp.get(n)) if n in _TS_FIELDS else exp.get(n)
            for n in EXPERIMENTS_SCHEMA.names
        }
        others = [r for r in self._load_experiments() if r["id"] != row["id"]]
        self._commit_experiments(others + [row])

    def set_status(self, exp_id: int, status: str) -> None:
        assert status in STATUSES, status
        rows = self._load_experiments()
        now = _ts_to_json(datetime.now(timezone.utc))
        for r in rows:
            if r["id"] == exp_id:
                r["status"], r["updated_at"] = status, now
        self._commit_experiments(rows)

    # -- sinks ---------------------------------------------------------------

    def answers(self) -> DataFrame:
        return self._read("answers", ANSWERS_SCHEMA)

    def judgments(self) -> DataFrame:
        return self._read("judgments", JUDGMENTS_SCHEMA)

    def append_answers(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._path("answers"))

    def append_judgments(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._path("judgments"))

    def purge_errored_answers(self, exp_id: int) -> None:
        """Drop errored answer rows (and any judgments of them) so a resume
        retries the failed calls instead of anti-joining them away — the
        reference rolls failed calls back (services/generation.py:130-139),
        so an errored row must not occupy its deterministic id."""
        errored = (
            self.answers()
            .filter((F.col("experiment_id") == exp_id) & F.col("error").isNotNull())
            .select(F.col("id").alias("answer_id"))
        )
        if errored.limit(1).count() == 0:
            return
        self._overwrite_atomic(
            self.judgments().join(errored, "answer_id", "left_anti"), "judgments"
        )
        self._overwrite_atomic(
            self.answers().filter(
                ~((F.col("experiment_id") == exp_id) & F.col("error").isNotNull())
            ),
            "answers",
        )

    def purge_errored_judgments(self, exp_id: int, judge_model: str | None = None) -> None:
        """Same retry rule for the judgments sink."""
        exp_answers = self.answers().filter(F.col("experiment_id") == exp_id).select(
            F.col("id").alias("answer_id")
        )
        doomed = (
            self.judgments()
            .filter(F.col("error").isNotNull())
            .join(exp_answers, "answer_id", "left_semi")
        )
        if judge_model:
            doomed = doomed.filter(F.col("judge_model") == judge_model)
        if doomed.limit(1).count() == 0:
            return
        self._overwrite_atomic(
            self.judgments().join(doomed.select("id"), "id", "left_anti"), "judgments"
        )

    def delete_answers(self, exp_id: int) -> None:
        """S7 predicate delete + dependent judgments (ref
        routers/generation.py:78-80 + FK cascade)."""
        doomed = self.answers().filter(F.col("experiment_id") == exp_id).select(
            F.col("id").alias("answer_id")
        )
        self._overwrite_atomic(
            self.judgments().join(doomed, "answer_id", "left_anti"), "judgments"
        )
        self._overwrite_atomic(
            self.answers().filter(F.col("experiment_id") != exp_id), "answers"
        )

    def delete_judgments(self, exp_id: int, judge_model: str | None = None) -> None:
        """S7: judgments of an experiment, optionally one judge only (ref
        routers/judging.py:89-98)."""
        exp_answers = self.answers().filter(F.col("experiment_id") == exp_id).select(
            F.col("id").alias("answer_id")
        )
        doomed = self.judgments().join(exp_answers, "answer_id", "left_semi")
        if judge_model:
            doomed = doomed.filter(F.col("judge_model") == judge_model)
        survivors = self.judgments().join(
            doomed.select("id"), "id", "left_anti"
        )
        self._overwrite_atomic(survivors, "judgments")

    def delete_experiment(self, exp_id: int) -> None:
        """S8 cascade: experiment → answers → judgments (ref
        models.py:136,156; routers/experiments.py:130-137)."""
        self.delete_answers(exp_id)
        self._commit_experiments(
            [r for r in self._load_experiments() if r["id"] != exp_id]
        )


class ExperimentRunner:
    """Stage orchestration with the reference's status machine."""

    def __init__(
        self,
        store: ExperimentStore,
        variants: DataFrame,
        questions: DataFrame,
        *,
        client_spec: dict,
        parallelism: int | None = None,
    ):
        self.store = store
        self.variants = variants
        self.questions = questions
        self.client_spec = client_spec
        self.parallelism = parallelism
        self.progress = ProgressStore(store.spark.sparkContext)

    def _guard(self, exp: dict) -> None:
        if exp["status"] in ("generating", "judging"):
            raise ConcurrentStageError(
                f"experiment {exp['id']} is {exp['status']}"  # ref: HTTP 409
            )

    def generate(self, exp_id: int) -> dict:
        exp = self.store.get_experiment(exp_id)
        if exp is None:
            raise KeyError(exp_id)
        self._guard(exp)
        self.store.set_status(exp_id, "generating")
        self.store.purge_errored_answers(exp_id)  # retry transient failures
        job = self.progress.create(f"gen-{exp_id}", total=0)
        try:
            new_rows = run_generation(
                exp,
                self.variants,
                self.questions,
                client_spec=self.client_spec,
                existing_answers=self.store.answers(),
                completed_acc=job.completed_acc,
                failed_acc=job.failed_acc,
                parallelism=self.parallelism,
            )
            self.store.append_answers(new_rows)
            self.store.set_status(exp_id, "generated")
            job.finish()
        except Exception as e:  # driver-level failure → error status (ST1)
            self.store.set_status(exp_id, "error")
            job.finish(error=str(e))
            raise
        return job.snapshot()

    def judge(self, exp_id: int, judge_model: str) -> dict:
        exp = self.store.get_experiment(exp_id)
        if exp is None:
            raise KeyError(exp_id)
        self._guard(exp)
        self.store.set_status(exp_id, "judging")
        self.store.purge_errored_judgments(exp_id, judge_model)  # retry failures
        job = self.progress.create(f"judge-{exp_id}-{judge_model}", total=0)
        try:
            new_rows = run_judging(
                exp,
                self.store.answers(),
                self.variants,
                self.questions,
                judge_model,
                client_spec=self.client_spec,
                existing_judgments=self.store.judgments(),
                completed_acc=job.completed_acc,
                failed_acc=job.failed_acc,
                parallelism=self.parallelism,
            )
            self.store.append_judgments(new_rows)
            self.store.set_status(exp_id, "completed")
            job.finish()
        except Exception as e:
            self.store.set_status(exp_id, "error")
            job.finish(error=str(e))
            raise
        return job.snapshot()

    def reset_status(self, exp_id: int) -> str:
        """Recompute status from sink contents (ref
        routers/experiments.py:140-162: unstick jobs)."""
        has_answers = (
            self.store.answers().filter(F.col("experiment_id") == exp_id).limit(1).count() > 0
        )
        if not has_answers:
            status = "created"
        else:
            exp_answer_ids = self.store.answers().filter(
                F.col("experiment_id") == exp_id
            ).select(F.col("id").alias("answer_id"))
            has_judgments = (
                self.store.judgments()
                .join(exp_answer_ids, "answer_id", "left_semi")
                .limit(1)
                .count()
                > 0
            )
            status = "completed" if has_judgments else "generated"
        self.store.set_status(exp_id, status)
        return status
