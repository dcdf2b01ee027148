"""Named extraction-config store — the analog of the reference's SQLite
config CRUD (``POST/GET/DELETE /config/``, api/main.py:386-462; ORM
``TTOCRMLConfigs`` keyed by ``name``, ttocr/api/database.py:26-65).

Configs are tiny and read-mostly: a JSON file per name under a directory,
plus a loader that registers them as a Spark DataFrame for joins/lineage.
``name`` is the primary key (database.py:32); saving an existing name
overwrites, mirroring the reference's upsert-by-name semantics.
"""

from __future__ import annotations

import json
import os
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from table_ocr_spark.config import ExtractorConfig
from table_ocr_spark.session import local_frame


class ConfigStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        safe = "".join(c for c in name if c.isalnum() or c in "-_.")
        if not safe or safe != name:
            raise ValueError(f"invalid config name: {name!r}")
        return os.path.join(self.root, f"{safe}.json")

    def save(self, cfg: ExtractorConfig) -> str:
        """Upsert by name; returns the config hash."""
        with open(self._path(cfg.name), "w") as f:
            f.write(cfg.to_json())
        return cfg.config_hash()

    def get(self, name: str) -> Optional[ExtractorConfig]:
        p = self._path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return ExtractorConfig.from_json(f.read())

    def delete(self, name: str) -> bool:
        p = self._path(name)
        if os.path.exists(p):
            os.remove(p)
            return True
        return False

    def names(self) -> List[str]:
        return sorted(
            os.path.splitext(f)[0] for f in os.listdir(self.root) if f.endswith(".json")
        )

    def as_dataframe(self, spark: SparkSession) -> DataFrame:
        """All configs as (name, config_hash, config_json) — joinable with
        the lineage table's config_hash."""
        rows = []
        for name in self.names():
            cfg = self.get(name)
            rows.append((name, cfg.config_hash(), cfg.to_json()))
        schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in ("name", "config_hash", "config_json")]
        )
        return local_frame(spark, rows, schema)
