"""Searchable vector encryption: vectors encrypted at rest
(ChaCha20-Poly1305) with a key-derived random-projection "search
embedding" that still supports approximate nearest-neighbor serving,
plus HKDF key management, envelope key wrapping, and an encrypted
metadata store.

Reference: /root/reference/src/enterprise/encryption.rs —
EncryptionConfig (:44-68: searchable on, noise 0.1, projection 128),
EncryptionKey (:82-120, zeroized on drop), KeyManager (:122-205):
HKDF-SHA256 purpose-derived keys (:148-163), HMAC-seeded
row-normalized projection matrix (:165-199), EncryptedVector
(:208-223), VectorEncryptor (:226-502): encrypt = fresh 96-bit nonce +
ChaCha20-Poly1305 over the little-endian float bytes + optional search
embedding (:243-279), decrypt (:281-303), search_encrypted = L2 over
search embeddings, sort, truncate (:305-342), Laplace noise on the
embedding (:466-478), projection fallback = plain normalize
(:448-464), EncryptedMetadataStore (:513-597), WrappedKey /
KekProvider / LocalKekProvider envelope wrapping (:601-720).

Spark shape (100 TB posture): encryption/decryption are map-only Arrow
kernels (numpy matmul for the projections; the AEAD is C-backed
per-row); the ciphertext column is opaque binary the engine never
shuffles except as payload.  Encrypted SEARCH never touches
ciphertext: it is the ordinary exact-kNN plan over the
`search_embedding` column — JVM expressions + TakeOrderedAndProject,
no Python, no exchange.  Keys ride the serialized kernel closure;
production deployments should inject them via cluster secret
distribution instead (documented limitation, same trust model as the
reference's in-process KeyManager)."""

from __future__ import annotations

import hashlib
import hmac as hmac_mod
import os
import struct
import time
from dataclasses import dataclass, field
from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from needle_spark.functions.distance import array_literal
from needle_spark.operators.knn_arrow import vector_matrix

try:  # C-backed AEAD; the sandbox ships cryptography
    import cryptography.hazmat.primitives.ciphers.aead  # noqa: F401
    _HAVE_AEAD = True
except ImportError:  # pragma: no cover - environment without cryptography
    _HAVE_AEAD = False

_U32_MAX = 0xFFFFFFFF


class EncryptionError(ValueError):
    pass


@dataclass
class EncryptionConfig:
    """encryption.rs:44-68."""

    algorithm: str = "chacha20poly1305"
    key_size: int = 256
    searchable: bool = True
    noise_level: float = 0.1
    projection_dims: int = 128


def _hkdf_sha256(master: bytes, info: bytes, length: int = 32) -> bytes:
    """HKDF-SHA256 (RFC 5869), salt-less like encryption.rs:153-157."""
    prk = hmac_mod.new(b"\x00" * 32, master, hashlib.sha256).digest()
    out = b""
    block = b""
    counter = 1
    while len(out) < length:
        block = hmac_mod.new(prk, block + info + bytes([counter]),
                             hashlib.sha256).digest()
        out += block
        counter += 1
    return out[:length]


class KeyManager:
    """encryption.rs:122-205."""

    def __init__(self, master_key: bytes):
        if len(master_key) < 16:
            raise EncryptionError("master key must be at least 16 bytes")
        self._master = bytes(master_key)
        self._derived: dict[str, bytes] = {}
        self.projection_matrix: np.ndarray | None = None

    def derive_key(self, purpose: str) -> bytes:
        """HKDF-SHA256 expand with the purpose as info —
        encryption.rs:148-163."""
        if purpose not in self._derived:
            self._derived[purpose] = _hkdf_sha256(
                self._master, purpose.encode(), 32)
        return self._derived[purpose]

    def init_projection(self, input_dims: int, output_dims: int) -> None:
        """HMAC-SHA256-seeded row-normalized matrix —
        encryption.rs:165-199: entry (i,j) from the first 4 LE bytes of
        HMAC(master, "projection:i:j") mapped to [-1, 1]."""
        m = np.empty((output_dims, input_dims), dtype=np.float64)
        for i in range(output_dims):
            for j in range(input_dims):
                digest = hmac_mod.new(
                    self._master, f"projection:{i}:{j}".encode(),
                    hashlib.sha256).digest()
                (h,) = struct.unpack("<I", digest[:4])
                m[i, j] = h / _U32_MAX * 2.0 - 1.0
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        self.projection_matrix = m


@dataclass
class WrappedKey:
    """encryption.rs:601-608."""

    key_id: str
    wrapped_dek: bytes
    kek_id: str
    created_at: float
    active: bool = True


class LocalKekProvider:
    """Envelope wrapping with a local KEK — encryption.rs:615-660:
    wrapped = nonce(12) || AEAD(kek, dek)."""

    def __init__(self, kek_bytes: bytes, kek_id: str):
        if len(kek_bytes) < 32:
            raise EncryptionError("KEK must be at least 32 bytes")
        self._kek = bytes(kek_bytes[:32])
        self.kek_id = kek_id

    def wrap(self, plaintext: bytes) -> bytes:
        nonce = os.urandom(12)
        ct = _aead(self._kek).encrypt(nonce, plaintext, None)
        return nonce + ct

    def unwrap(self, wrapped: bytes) -> bytes:
        if len(wrapped) < 12:
            raise EncryptionError("Invalid wrapped key")
        try:
            return _aead(self._kek).decrypt(wrapped[:12], wrapped[12:],
                                            None)
        except Exception as e:
            raise EncryptionError(f"unwrap failed: {e}") from e

    def wrap_key(self, key_manager: KeyManager, purpose: str,
                 *, now: float | None = None) -> WrappedKey:
        dek = key_manager.derive_key(purpose)
        return WrappedKey(
            key_id=purpose, wrapped_dek=self.wrap(dek), kek_id=self.kek_id,
            created_at=time.time() if now is None else now)


def _aead(key: bytes):
    # imported HERE, not at module scope: the Rust-backed class cannot be
    # pickled by reference (its binding module is not importable), so it
    # must never be captured in a serialized closure
    if not _HAVE_AEAD:
        raise EncryptionError("cryptography library unavailable")
    from cryptography.hazmat.primitives.ciphers.aead import ChaCha20Poly1305
    return ChaCha20Poly1305(key)


def _aead_encrypt(key: bytes, nonce: bytes, plaintext: bytes) -> bytes:
    return _aead(key).encrypt(nonce, plaintext, None)


def _aead_decrypt(key: bytes, nonce: bytes, ct_with_tag: bytes) -> bytes:
    try:
        return _aead(key).decrypt(nonce, ct_with_tag, None)
    except Exception as e:
        raise EncryptionError(
            "Decryption failed: authentication tag mismatch") from e


class VectorEncryptor:
    """encryption.rs:226-502."""

    def __init__(self, config: EncryptionConfig, key_manager: KeyManager):
        if config.algorithm != "chacha20poly1305":
            raise EncryptionError(
                "only chacha20poly1305 is implemented (the reference's "
                "AES256GCM/OrderPreserving variants share this API)")
        self.config = config
        self.key_manager = key_manager

    def initialize(self, input_dims: int) -> None:
        """encryption.rs:497-501."""
        self.key_manager.init_projection(
            input_dims, self.config.projection_dims)

    # -- embeddings --

    def _project(self, x: np.ndarray) -> np.ndarray:
        """transform_for_search — encryption.rs:448-464: projection if
        initialized, else L2 normalize."""
        m = self.key_manager.projection_matrix
        if m is not None:
            return x.astype(np.float64) @ m.T
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return x / norms

    def _noise(self, shape, rng: np.random.Generator) -> np.ndarray:
        """Laplace noise — encryption.rs:466-478."""
        u = rng.random(shape) - 0.5
        return (self.config.noise_level * np.sign(u)
                * np.log(1.0 - 2.0 * np.abs(u)))

    # -- driver-side parity --

    def encrypt(self, id: str, vector: Sequence[float],
                metadata: dict | None = None,
                *, rng: np.random.Generator | None = None) -> dict:
        """encryption.rs:243-279."""
        rng = rng or np.random.default_rng()
        key = self.key_manager.derive_key("vectors")
        nonce = os.urandom(12)
        v = np.asarray(vector, dtype=np.float32)
        ct = _aead_encrypt(key, nonce, v.tobytes())
        emb = None
        if self.config.searchable:
            e = self._project(v.reshape(1, -1))[0]
            if self.config.noise_level > 0:
                e = e + self._noise(e.shape, rng)
            emb = [float(x) for x in e]
        return {"id": id, "ciphertext": ct[:-16], "auth_tag": ct[-16:],
                "nonce": nonce, "key_id": "vectors",
                "search_embedding": emb, "metadata": metadata or {}}

    def decrypt(self, encrypted: dict) -> list[float]:
        """encryption.rs:281-303."""
        key = self.key_manager.derive_key(encrypted["key_id"])
        pt = _aead_decrypt(key, encrypted["nonce"],
                           encrypted["ciphertext"] + encrypted["auth_tag"])
        return np.frombuffer(pt, dtype=np.float32).tolist()

    # -- distributed paths --

    def encrypt_vectors(self, df: DataFrame, *, id_col: str = "id",
                        vector_col: str = "vector",
                        seed: int | None = None) -> DataFrame:
        """Map-only Arrow kernel: (id, ciphertext, nonce, auth_tag,
        key_id, search_embedding)."""
        key = self.key_manager.derive_key("vectors")
        cfg = self.config
        matrix = self.key_manager.projection_matrix
        id_type = df.schema[id_col].dataType.simpleString()
        src = df.select(F.col(id_col).alias("id"),
                        F.col(vector_col).alias("vector"))
        out_schema = (f"id {id_type}, ciphertext binary, nonce binary, "
                      f"auth_tag binary, key_id string, "
                      f"search_embedding array<float>")

        def kernel(batches: Iterator[pa.RecordBatch]):
            from pyspark import TaskContext

            # fold the partition id into the seed: one shared stream
            # would add IDENTICAL noise to the i-th row of every
            # partition — cross-row correlation an attacker with one
            # known pair per partition can subtract away
            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else 0
            rng = np.random.default_rng(
                None if seed is None else (int(seed) << 20) + pid)
            aead = _aead(key)
            expect = matrix.shape[1] if matrix is not None else None
            for batch in batches:
                try:
                    vecs = vector_matrix(batch.column("vector"), np.float32,
                                         vector_col)
                except ValueError as e:
                    raise EncryptionError(f"{e}: cannot encrypt") from e
                if (expect is not None and len(vecs)
                        and vecs.shape[1] != expect):
                    raise EncryptionError(
                        f"vector dims {vecs.shape[1]} != expected ({expect})")
                if cfg.searchable:
                    if matrix is not None:
                        embs = vecs.astype(np.float64) @ matrix.T
                    else:
                        n = np.linalg.norm(vecs, axis=1, keepdims=True)
                        n[n == 0] = 1.0
                        embs = vecs / n
                    if cfg.noise_level > 0:
                        u = rng.random(embs.shape) - 0.5
                        embs = embs + (cfg.noise_level * np.sign(u)
                                       * np.log(1.0 - 2.0 * np.abs(u)))
                    emb_list = embs.astype(np.float32).tolist()
                else:
                    emb_list = [None] * len(vecs)
                cts, nonces, tags = [], [], []
                for row in vecs:
                    nonce = os.urandom(12)
                    ct = aead.encrypt(nonce, row.tobytes(), None)
                    nonces.append(nonce)
                    cts.append(ct[:-16])
                    tags.append(ct[-16:])
                out = pa.schema([
                    ("id", batch.schema.field("id").type),
                    ("ciphertext", pa.binary()),
                    ("nonce", pa.binary()),
                    ("auth_tag", pa.binary()),
                    ("key_id", pa.string()),
                    ("search_embedding", pa.list_(pa.float32())),
                ])
                yield pa.RecordBatch.from_arrays([
                    batch.column("id"),
                    pa.array(cts, type=pa.binary()),
                    pa.array(nonces, type=pa.binary()),
                    pa.array(tags, type=pa.binary()),
                    pa.array(["vectors"] * len(vecs), type=pa.string()),
                    pa.array(emb_list, type=pa.list_(pa.float32())),
                ], schema=out)

        return src.mapInArrow(kernel, out_schema)

    def decrypt_vectors(self, enc_df: DataFrame) -> DataFrame:
        """Trusted-side inverse: (id, vector)."""
        km = self.key_manager

        def kernel(batches: Iterator[pa.RecordBatch]):
            for batch in batches:
                tbl = batch.to_pydict()
                vecs = []
                for ct, nonce, tag, key_id in zip(
                        tbl["ciphertext"], tbl["nonce"], tbl["auth_tag"],
                        tbl["key_id"]):
                    pt = _aead_decrypt(km.derive_key(key_id), nonce, ct + tag)
                    vecs.append(np.frombuffer(pt, dtype=np.float32))
                yield pa.RecordBatch.from_arrays(
                    [batch.column("id"),
                     pa.array([v.tolist() for v in vecs],
                              type=pa.list_(pa.float32()))],
                    names=["id", "vector"])

        id_type = enc_df.schema["id"].dataType.simpleString()
        return enc_df.mapInArrow(
            kernel, f"id {id_type}, vector array<float>")

    def search_encrypted(self, enc_df: DataFrame, query: Sequence[float],
                         k: int = 10) -> DataFrame:
        """encryption.rs:305-342: L2 over search embeddings, ascending,
        top-k.  Pure JVM expressions + TakeOrderedAndProject; the query
        transform (:448) runs once on the driver and broadcasts as
        literals.  The query is NOT noised — only stored embeddings
        carry noise, matching the reference."""
        if not self.config.searchable:
            raise EncryptionError("Searchable encryption not enabled")
        q = self._project(
            np.asarray(query, dtype=np.float32).reshape(1, -1))[0]
        qarr = array_literal(q)
        dist = F.sqrt(F.aggregate(
            F.zip_with(F.col("search_embedding").cast("array<double>"), qarr,
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ))
        return (enc_df.withColumn("approximate_distance", dist)
                .orderBy("approximate_distance", "id").limit(k))


class EncryptedMetadataStore:
    """encryption.rs:513-597 — per-entry nonce, AEAD-sealed values."""

    def __init__(self, encryptor: VectorEncryptor):
        self.encryptor = encryptor
        self._data: dict[str, tuple[bytes, bytes]] = {}

    def put(self, key: str, value: str) -> None:
        k = self.encryptor.key_manager.derive_key("metadata")
        nonce = os.urandom(12)
        self._data[key] = (nonce, _aead_encrypt(k, nonce, value.encode()))

    def get(self, key: str) -> str | None:
        entry = self._data.get(key)
        if entry is None:
            return None
        k = self.encryptor.key_manager.derive_key("metadata")
        return _aead_decrypt(k, entry[0], entry[1]).decode()
