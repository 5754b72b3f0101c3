"""Linkage-schema loading, validation, and version upgrades.

Accepts the same JSON grammar as data61/clkhash (versions 1-3; reference:
clkhash/schema.py:46-333 and clkhash/schemas/v{1,2,3}.json), upgraded in
place to v3:

- v1 → v2: global ``k`` and per-field ``weight`` become per-field
  ``strategy.k = round(weight * k)``; ``weight == 0`` means ignored; the
  global ``hash`` block is pushed into each feature.
- v2 → v3: ``strategy.k`` → ``bitsPerToken``; ``strategy.numBits`` →
  ``bitsPerFeature``; ``ngram``/``positional`` fold into a ``comparison``
  object.

Validation is structural (hand-rolled, not jsonschema) — it enforces the
constraints the engine relies on and reports all per-feature errors at once.
The :class:`Schema` object is tiny and is broadcast to executors.
"""

from __future__ import annotations

import base64
import json
from copy import deepcopy
from typing import Any, Dict, List, Optional, Sequence, TextIO

from .fields import Field, InvalidSchemaError, field_from_config
from .kdf import DEFAULT_KEY_SIZE

SUPPORTED_VERSIONS = (1, 2, 3)


class SchemaError(Exception):
    """The user-provided linkage schema is invalid."""

    def __init__(
        self,
        msg: str,
        errors: Optional[Sequence[Exception]] = None,
    ) -> None:
        self.msg = msg
        self.errors = list(errors) if errors else []
        super().__init__(msg)

    def __str__(self) -> str:
        lines = [self.msg]
        lines.extend(f"  - {e}" for e in self.errors)
        return "\n".join(lines)


class Schema:
    """Describes how to encode plaintext identifiers into CLKs.

    :ivar fields: ordered field specs (including ignored fields — key
        derivation counts them).
    :ivar l: CLK length in bits *after* XOR folding.
    :ivar xor_folds: number of XOR folds.
    :ivar doc: the v3 schema document it was built from (``None`` when
        built directly) — the identity a stage checkpoint hashes.
    """

    def __init__(
        self,
        fields: Sequence[Field],
        l: int,
        xor_folds: int = 0,
        kdf_type: str = "HKDF",
        kdf_hash: str = "SHA256",
        kdf_info: Optional[bytes] = None,
        kdf_salt: Optional[bytes] = None,
        kdf_key_size: int = DEFAULT_KEY_SIZE,
        doc: Optional[Dict[str, Any]] = None,
    ) -> None:
        self.fields = list(fields)
        self.l = l
        self.xor_folds = xor_folds
        self.kdf_type = kdf_type
        self.kdf_hash = kdf_hash
        self.kdf_info = kdf_info
        self.kdf_salt = kdf_salt
        self.kdf_key_size = kdf_key_size
        self.doc = doc

    @property
    def hash_l(self) -> int:
        """Pre-fold Bloom filter length in bits."""
        return self.l * 2 ** self.xor_folds

    def __repr__(self) -> str:
        return (
            f"<Schema l={self.l} xor_folds={self.xor_folds} "
            f"fields={len(self.fields)}>"
        )


# --------------------------------------------------------------------------
# Version upgrades
# --------------------------------------------------------------------------

def _upgrade_v1_to_v2(doc: Dict[str, Any]) -> Dict[str, Any]:
    doc = deepcopy(doc)
    if doc.get("version") != 1:
        raise SchemaError(f"expected version 1, got {doc.get('version')}")
    clk_config = doc["clkConfig"]
    global_k = clk_config.pop("k")
    global_hash = clk_config["hash"]

    def upgrade_feature(feature: Dict[str, Any]) -> Dict[str, Any]:
        if feature.get("ignored", False):
            return feature
        weight = feature["hashing"].get("weight", 1.0)
        if weight == 0:
            return {"identifier": feature["identifier"], "ignored": True}
        out = deepcopy(feature)
        hashing = out["hashing"]
        hashing.pop("weight", None)
        hashing["strategy"] = {"k": int(round(weight * global_k))}
        hashing["hash"] = global_hash
        return out

    return {
        "version": 2,
        "clkConfig": {
            "l": clk_config["l"],
            "xor_folds": clk_config.get("xor_folds", 0),
            "kdf": clk_config["kdf"],
        },
        "features": [upgrade_feature(f) for f in doc["features"]],
    }


def _upgrade_v2_to_v3(doc: Dict[str, Any]) -> Dict[str, Any]:
    doc = deepcopy(doc)
    if doc.get("version") != 2:
        raise SchemaError(f"expected version 2, got {doc.get('version')}")
    doc["version"] = 3
    for feature in doc["features"]:
        if feature.get("ignored", False):
            continue
        hashing = feature["hashing"]
        strategy = hashing["strategy"]
        if "k" in strategy:
            strategy["bitsPerToken"] = strategy.pop("k")
        elif "numBits" in strategy:
            strategy["bitsPerFeature"] = strategy.pop("numBits")
        hashing["comparison"] = {
            "type": "ngram",
            "n": hashing.pop("ngram"),
            "positional": hashing.pop("positional", False),
        }
    return doc


def upgrade_to_latest(doc: Dict[str, Any]) -> Dict[str, Any]:
    """Upgrade a v1/v2 schema dict to v3; v3 passes through."""
    version = doc.get("version", "'not specified'")
    if version not in SUPPORTED_VERSIONS:
        raise SchemaError(f"schema version {version} is not supported")
    if doc["version"] == 1:
        doc = _upgrade_v1_to_v2(doc)
    if doc["version"] == 2:
        doc = _upgrade_v2_to_v3(doc)
    return doc


# --------------------------------------------------------------------------
# Structural validation
# --------------------------------------------------------------------------

def _err(errors: List[str], cond: bool, msg: str) -> None:
    if cond:
        errors.append(msg)


def validate_schema_dict(doc: Any) -> None:
    """Structurally validate a schema dict (any supported version).

    Raises :class:`SchemaError` listing every problem found.
    """
    if not isinstance(doc, dict):
        raise SchemaError(
            f"schema must be a JSON object, got {type(doc).__name__}"
        )
    if "version" not in doc:
        raise SchemaError("a format version is expected in the schema")
    version = doc["version"]
    if version not in SUPPORTED_VERSIONS:
        raise SchemaError(f"schema version {version} is not supported")

    errors: List[str] = []
    clk_config = doc.get("clkConfig")
    if not isinstance(clk_config, dict):
        raise SchemaError("schema must contain a clkConfig object")
    _err(errors, "l" not in clk_config, "clkConfig.l is required")
    if "l" in clk_config:
        _err(
            errors,
            not (isinstance(clk_config["l"], int) and clk_config["l"] > 0),
            "clkConfig.l must be a positive integer",
        )
    if version == 1:
        _err(errors, "k" not in clk_config, "v1 clkConfig.k is required")
        _err(errors, "hash" not in clk_config, "v1 clkConfig.hash is required")
    xf = clk_config.get("xor_folds", 0)
    _err(
        errors,
        not (isinstance(xf, int) and xf >= 0),
        "clkConfig.xor_folds must be a non-negative integer",
    )
    kdf = clk_config.get("kdf")
    if not isinstance(kdf, dict) or "type" not in kdf:
        errors.append("clkConfig.kdf with a type is required")
    else:
        _err(
            errors,
            kdf["type"] not in ("HKDF", "legacy"),
            f"unsupported kdf type {kdf['type']!r}",
        )
        _err(
            errors,
            kdf.get("hash", "SHA256") not in ("SHA256", "SHA512"),
            f"unsupported kdf hash {kdf.get('hash')!r}",
        )
        for b64_key in ("salt", "info"):
            if b64_key in kdf:
                try:
                    base64.b64decode(kdf[b64_key], validate=True)
                except Exception:
                    errors.append(f"kdf.{b64_key} must be valid base64")

    features = doc.get("features")
    if not isinstance(features, list) or not features:
        errors.append("schema must contain a non-empty features list")
        features = []
    for i, feature in enumerate(features):
        prefix = f"features[{i}]"
        if not isinstance(feature, dict):
            errors.append(f"{prefix} must be an object")
            continue
        if feature.get("ignored", False):
            continue
        _err(
            errors,
            "identifier" not in feature,
            f"{prefix}.identifier is required",
        )
        fmt = feature.get("format")
        if not isinstance(fmt, dict) or "type" not in fmt:
            errors.append(f"{prefix}.format.type is required")
            continue
        if fmt["type"] not in ("string", "integer", "date", "enum"):
            errors.append(f"{prefix}: unknown field type {fmt['type']!r}")
        if fmt["type"] == "date":
            _err(
                errors,
                "format" not in fmt,
                f"{prefix}: date fields need format.format",
            )
        if fmt["type"] == "enum":
            _err(
                errors,
                not isinstance(fmt.get("values"), list),
                f"{prefix}: enum fields need format.values",
            )
        hashing = feature.get("hashing")
        if not isinstance(hashing, dict):
            errors.append(f"{prefix}.hashing is required")
            continue
        if version >= 2:
            strategy = hashing.get("strategy")
            if not isinstance(strategy, dict) or not (
                {"k", "numBits", "bitsPerToken", "bitsPerFeature"}
                & set(strategy)
            ):
                errors.append(f"{prefix}.hashing.strategy is invalid")
        if version == 3:
            comparison = hashing.get("comparison")
            if not isinstance(comparison, dict) or "type" not in comparison:
                errors.append(f"{prefix}.hashing.comparison.type is required")
            elif comparison["type"] not in ("ngram", "exact", "numeric"):
                errors.append(
                    f"{prefix}: unknown comparison type "
                    f"{comparison['type']!r}"
                )
        else:
            _err(
                errors,
                "ngram" not in hashing,
                f"{prefix}.hashing.ngram is required in v{version}",
            )
        hash_block = hashing.get("hash")
        if version >= 2 and hash_block is not None:
            _err(
                errors,
                hash_block.get("type") not in ("doubleHash", "blakeHash"),
                f"{prefix}: unknown hash type {hash_block.get('type')!r}",
            )

    if errors:
        raise SchemaError("The schema is not valid.", errors)


# --------------------------------------------------------------------------
# Construction
# --------------------------------------------------------------------------

def from_json_dict(doc: Dict[str, Any], validate: bool = True) -> Schema:
    """Build a :class:`Schema` from a (v1/v2/v3) schema dict."""
    if validate:
        validate_schema_dict(doc)
    doc = upgrade_to_latest(doc)
    if validate:
        validate_schema_dict(doc)

    clk_config = doc["clkConfig"]
    kdf = clk_config["kdf"]
    kdf_info = (
        base64.b64decode(kdf["info"]) if kdf.get("info") is not None else None
    )
    kdf_salt = (
        base64.b64decode(kdf["salt"]) if kdf.get("salt") is not None else None
    )

    fields: List[Field] = []
    field_errors: List[Exception] = []
    for i, feature in enumerate(doc["features"]):
        try:
            fields.append(field_from_config(feature))
        except InvalidSchemaError as e:
            field_errors.append(
                InvalidSchemaError(f"feature at index {i}: {e}")
            )
    if field_errors:
        raise SchemaError("Schema was invalid", field_errors)

    return Schema(
        fields=fields,
        l=clk_config["l"],
        xor_folds=clk_config.get("xor_folds", 0),
        kdf_type=kdf["type"],
        kdf_hash=kdf.get("hash", "SHA256"),
        kdf_info=kdf_info,
        kdf_salt=kdf_salt,
        kdf_key_size=kdf.get("keySize", DEFAULT_KEY_SIZE),
        doc=deepcopy(doc),
    )


def from_json_file(fp: TextIO, validate: bool = True) -> Schema:
    try:
        doc = json.load(fp)
    except ValueError as e:
        raise SchemaError("The schema is not a valid JSON file.") from e
    return from_json_dict(doc, validate=validate)


def from_json_str(text: str, validate: bool = True) -> Schema:
    try:
        doc = json.loads(text)
    except ValueError as e:
        raise SchemaError("The schema is not valid JSON.") from e
    return from_json_dict(doc, validate=validate)
