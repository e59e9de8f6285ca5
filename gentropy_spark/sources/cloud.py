"""Cloud object-store wiring, Spark-first (r9).

Mirrors the reference's external/s3.py surface with the architecture
inverted for a distributed engine: the reference copies bytes
driver-side with vendor SDKs (boto-style clients); on Spark the
executors should read and write ``s3a://`` URIs DIRECTLY through the
Hadoop connector, so what this module provides is the connector
CONFIGURATION — a typed credentials/config record (stdlib dataclass,
no pydantic dependency) and the public ``fs.s3a.*`` Hadoop conf
entries it expands to. A 100 TB read must never funnel through a
driver-side SDK copy.

Reference parity points: S3Config fields + ``from_file`` /
``from_env`` (external/s3.py:12,54,87 — same standard AWS_* env
variables).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


@dataclass(frozen=True)
class S3Config:
    """S3-compatible store connection record (reference S3Config)."""

    bucket_name: str
    s3_host_port: int
    s3_host_url: str
    access_key_id: str
    secret_access_key: str

    @classmethod
    def from_file(cls, path: str) -> S3Config:
        """Load from a JSON file (reference from_file parity)."""
        with open(path, encoding="utf-8") as fh:
            return cls(**json.load(fh))

    @classmethod
    def from_env(cls) -> S3Config:
        """Load from the standard AWS_* environment variables."""
        bucket = os.getenv("AWS_S3_BUCKET_NAME")
        if bucket is None:
            raise ValueError(
                "AWS_S3_BUCKET_NAME environment variable is not set."
            )
        endpoint = os.getenv("AWS_ENDPOINT_URL", "s3.amazonaws.com")
        host, _, port = endpoint.partition(":")
        access = os.getenv("AWS_ACCESS_KEY_ID")
        secret = os.getenv("AWS_SECRET_ACCESS_KEY")
        if not access or not secret:
            raise ValueError(
                "AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY are not set."
            )
        return cls(
            bucket_name=bucket,
            s3_host_port=int(port) if port else 443,
            s3_host_url=host,
            access_key_id=access,
            secret_access_key=secret,
        )

    @property
    def endpoint(self) -> str:
        return f"{self.s3_host_url}:{self.s3_host_port}"

    def bucket_uri(self, key: str = "") -> str:
        """``s3a://bucket/key`` — the executor-readable URI form."""
        suffix = f"/{key.lstrip('/')}" if key else ""
        return f"s3a://{self.bucket_name}{suffix}"

    def hadoop_conf(self) -> dict[str, str]:
        """Public Hadoop S3A connector settings for this store.

        Apply via ``SparkSession.builder.config(k, v)`` or
        ``spark._jsc.hadoopConfiguration().set`` — after which any
        executor reads/writes ``s3a://`` paths directly (no
        driver-side SDK copies)."""
        return {
            "spark.hadoop.fs.s3a.endpoint": self.endpoint,
            "spark.hadoop.fs.s3a.access.key": self.access_key_id,
            "spark.hadoop.fs.s3a.secret.key": self.secret_access_key,
            # s3-compatible stores (the reference's host:port shape)
            # are virtually always path-style
            "spark.hadoop.fs.s3a.path.style.access": "true",
            "spark.hadoop.fs.s3a.connection.ssl.enabled": str(
                self.s3_host_port == 443
            ).lower(),
        }
