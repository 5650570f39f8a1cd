"""V5: duplicate-run check (``spark.json:8`` duplicateRunCheck).

Idempotency guard: refuse to reprocess the same input. The run is
fingerprinted by its input paths + file sizes + mtimes (content identity
without reading the data); fingerprints are recorded in a tiny JSON ledger
under the job's temp path. Fingerprinting and the ledger go through
Hadoop FS, so ``s3TempPath`` genuinely can be an object-store URI
(spark.json:9).
"""

from __future__ import annotations

import hashlib
import json


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def input_fingerprint(paths: list[str], spark) -> str:
    h = hashlib.sha256()
    for p in sorted(p for p in paths if p):
        entries: list[str] = []
        fs, jpath, _ = _hadoop_fs(spark, p)
        if fs.exists(jpath):
            it = fs.listFiles(jpath, True)
            while it.hasNext():
                st = it.next()
                entries.append(
                    f"{st.getPath().toString()}|{st.getLen()}|"
                    f"{st.getModificationTime() // 1000}"
                )
        for e in sorted(entries):
            h.update(e.encode())
    return h.hexdigest()


class RunLedger:
    def __init__(self, ledger_dir: str, spark):
        self.spark = spark
        fs, jdir, _ = _hadoop_fs(spark, ledger_dir)
        fs.mkdirs(jdir)
        self.path = ledger_dir.rstrip("/") + "/run_ledger.json"

    def _load(self) -> dict:
        fs, jpath, jvm = _hadoop_fs(self.spark, self.path)
        if not fs.exists(jpath):
            return {}
        stream = fs.open(jpath)
        try:
            raw = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(raw)

    def seen(self, job_name: str, fingerprint: str) -> bool:
        return self._load().get(job_name) == fingerprint

    def record(self, job_name: str, fingerprint: str) -> None:
        ledger = self._load()
        ledger[job_name] = fingerprint
        fs, jpath, _ = _hadoop_fs(self.spark, self.path)
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(json.dumps(ledger, indent=1).encode("utf-8")))
        finally:
            out.close()
