"""User-facing client façade: the reference's ``Vectorflow`` client API
re-expressed over the Spark pipeline.

The reference ships a pip-installable client
(client/src/vectorflow_client/vectorflow.py:43-137) whose surface is:

* ``embed(filepath)``          -> POST /embed, one file, returns JobID
* ``upload(file_paths)``       -> POST /jobs, many files, returns
  successful_uploads {filename: job_id} + failed_uploads +
  empty_files_count + duplicate_files_count (src/api/app.py:88-147)
* ``get_job_status(job_id)`` / ``get_job_statuses(ids)`` -> poll loop

Here the "server" is the Spark session itself, so the same calls run the
pipeline DIRECTLY — no HTTP hop, no queue, no polling gap between submit
and execution — but the request/response SHAPES are kept so a reference
user's driver script ports by swapping the import: ``Response`` carries
the same field names the reference's Response.from_json produces, and
job statuses use the same JobStatus enum (config.py:30-39).

Jobs persist as JSON rows in ``job_root/_JOBS.jsonl`` (append-only,
rewritten atomically on update) so ``get_job_status`` works from a fresh
client instance, mirroring the reference's Postgres job table at the
fidelity a local engine needs. Each job's vectors land under
``job_root/job_<id>/`` for the default parquet sink; external sinks
(qdrant/pinecone/weaviate/webhook) route through the same import-gated
writers as the pipeline (sinks/writers.write_vectors).

File classification mirrors the reference endpoints exactly
(src/api/app.py:40-146): on /jobs, per file IN ORDER — empty FILENAME ->
empty_files_count (the reference counts no-file-selected parts, NOT
zero-byte files), unsupported extension -> failed_uploads,
case-sensitive filename already among the SUCCESSFUL uploads ->
duplicate_files_count (K2), unreadable path (the upload-error case) ->
failed_uploads; /jobs has NO size cap and always returns 200 'Files
processed'. A file that uploads but then fails PROCESSING still counts
as a successful upload — the error surfaces via ``get_job_status`` as
JobStatus.FAILED, matching the reference's async model where /jobs
returns once jobs are created and the worker reports failures through
the job table (app.py:118-141). Only /embed
enforces the 25 MB cap (413, app.py:58-59) and the empty-filename /
invalid-type 400s. get_job_statuses returns 404 when no id matches
(app.py:174-178). Zero-byte files create jobs on both endpoints, as in
the reference.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from vectorflow_spark.config import JobStatus, PipelineConfig

SUPPORTED_CLIENT_EXTENSIONS = (".txt", ".md", ".html", ".pdf", ".docx")


@dataclass
class Job:
    """Mirror of the reference client's Job (client job.py:1-15)."""

    job_id: int
    job_status: str | None = None
    filename: str | None = None


@dataclass
class Response:
    """Mirror of the reference client's Response field names."""

    error: str | None = None
    message: str | None = None
    successful_uploads: list[Job] | None = None
    failed_uploads: list[str] | None = None
    empty_files_count: int | None = None
    duplicate_files_count: int | None = None
    job_id: int | None = None
    jobs: list[Job] | None = None
    job_status: str | None = None
    status_code: int = 200


@dataclass
class Vectorflow:
    """``Vectorflow(spark).embed('doc.txt')`` — the reference client's
    call shape against the Spark engine."""

    spark: object
    cfg: PipelineConfig = field(default_factory=PipelineConfig)
    job_root: str = "spark-warehouse/vf_jobs"

    # -- job registry -------------------------------------------------

    def _jobs_path(self) -> str:
        return os.path.join(self.job_root, "_JOBS.jsonl")

    def _load_jobs(self) -> dict[int, dict]:
        try:
            with open(self._jobs_path()) as f:
                return {int(j["job_id"]): j for j in map(json.loads, f) if j}
        except OSError:
            return {}

    def _save_jobs(self, jobs: dict[int, dict]) -> None:
        os.makedirs(self.job_root, exist_ok=True)
        tmp = self._jobs_path() + ".tmp"
        with open(tmp, "w") as f:
            for j in jobs.values():
                f.write(json.dumps(j) + "\n")
        os.replace(tmp, self._jobs_path())

    def _new_job(self, filename: str) -> int:
        jobs = self._load_jobs()
        job_id = max(jobs, default=0) + 1
        jobs[job_id] = {
            "job_id": job_id,
            "filename": filename,
            "job_status": JobStatus.NOT_STARTED.value,
        }
        self._save_jobs(jobs)
        return job_id

    def _update_job(self, job_id: int, **fields) -> None:
        jobs = self._load_jobs()
        jobs[job_id].update(fields)
        self._save_jobs(jobs)

    # -- execution ----------------------------------------------------

    def _run_one(self, path: str, job_id: int):
        from vectorflow_spark.pipeline import job_status_row, run_pipeline
        from vectorflow_spark.sinks.writers import write_vectors
        from vectorflow_spark.sources.readers import extract_documents, read_raw_files

        self._update_job(job_id, job_status=JobStatus.IN_PROGRESS.value)
        try:
            raw = read_raw_files(self.spark, path)
            docs = extract_documents(raw)
            obs: dict = {}
            records = run_pipeline(docs, self.cfg, text_col="text", doc_col="source", observations=obs)
            cfg = self.cfg
            if cfg.sink == "parquet" and "path" not in cfg.sink_options:
                from dataclasses import replace

                cfg = replace(
                    cfg, sink_options={**cfg.sink_options, "path": os.path.join(self.job_root, f"job_{job_id}")}
                )
            write_vectors(records, cfg)
            status = job_status_row(obs, str(job_id))
            self._update_job(
                job_id,
                job_status=status["job_status"],
                n_docs=status["n_docs"],
                n_records=status["n_records"],
            )
        except Exception as e:  # noqa: BLE001 — job accounting, A4/A5
            self._update_job(job_id, job_status=JobStatus.FAILED.value, error=str(e)[:500])

    # -- public API (reference call shapes) ---------------------------

    def embed(self, filepath: str) -> Response:
        """POST /embed (app.py:40-75): 25 MB cap -> 413; empty filename ->
        400 'No selected file'; invalid type -> 400; else one job, run
        synchronously. A zero-byte file passes, as in the reference."""
        name = os.path.basename(filepath)
        try:
            size = os.path.getsize(filepath)
        except OSError:
            return Response(error="No selected file", status_code=400)
        if size > self.cfg.max_file_size_bytes:
            return Response(
                error="File is too large. The /embed endpoint currently only "
                "supports 25 MB files or less. Please use /jobs for streaming "
                "large files or multiple files.",
                status_code=413,
            )
        if name == "":
            return Response(error="No selected file", status_code=400)
        if not name.lower().endswith(SUPPORTED_CLIENT_EXTENSIONS):
            return Response(
                error="Uploaded file is not a TXT, PDF, Markdown or DOCX file",
                status_code=400,
            )
        job_id = self._new_job(name)
        self._run_one(filepath, job_id)
        return Response(job_id=job_id, message="Job created", status_code=200)

    def upload(self, file_paths: list[str]) -> Response:
        """POST /jobs (app.py:77-146): the reference's per-file loop,
        faithfully — check order, case-sensitive dup detection against
        SUCCESSFUL uploads only, no size cap, always 200."""
        succeeded: dict[str, int] = {}
        uploads: list[Job] = []
        failed: list[str] = []
        empty = dup = 0
        for p in file_paths:
            name = os.path.basename(p)
            if name == "":  # reference: empty filename = no file selected
                empty += 1
                continue
            if not name.lower().endswith(SUPPORTED_CLIENT_EXTENSIONS):
                failed.append(name)
                continue
            if name in succeeded:  # case-sensitive, successes only
                dup += 1
                continue
            if not os.path.exists(p):  # the reference's upload-error path
                failed.append(name)
                continue
            job_id = self._new_job(name)
            self._run_one(p, job_id)
            succeeded[name] = job_id
            uploads.append(Job(job_id=job_id, filename=name))
        return Response(
            message="Files processed",
            successful_uploads=uploads or None,
            failed_uploads=failed or None,
            empty_files_count=empty,
            duplicate_files_count=dup,
            status_code=200,
        )

    def get_job_status(self, job_id: int) -> Response:
        """GET /jobs/<id>/status."""
        j = self._load_jobs().get(int(job_id))
        if j is None:
            return Response(error=f"job {job_id} not found", status_code=404)
        return Response(job_id=int(job_id), job_status=j["job_status"], status_code=200)

    def get_job_statuses(self, job_ids: list[int]) -> Response:
        """POST /jobs/status (A3 multi-lookup; 404 when nothing matches,
        app.py:174-178)."""
        jobs = self._load_jobs()
        found = [
            Job(job_id=int(i), job_status=jobs[int(i)]["job_status"])
            for i in job_ids
            if int(i) in jobs
        ]
        if not found:
            return Response(error="Jobs not found", status_code=404)
        return Response(jobs=found, status_code=200)

    def read_job_vectors(self, job_id: int):
        """Engine-side convenience the reference cannot offer: the job's
        sink records as a DataFrame (parquet sink only)."""
        return self.spark.read.parquet(os.path.join(self.job_root, f"job_{int(job_id)}"))
