"""Authorization: JWT claims extraction + policy gates + RLS predicates.

Reference behavior reproduced (Spark-first, no probe transactions):
  - JWT verify requires signature + `role` + `exp` claims
    (reference: lib/realtime_web/channels/auth/jwt_verification.ex)
  - per-(topic, role, extension) read/write booleans decide broadcast and
    presence access; evaluated lazily in the reference via probe INSERT +
    read-back under the user's role inside ROLLBACK'd transactions
    (reference: lib/realtime/tenants/authorization.ex:243-341). Here the
    policies are a small dimension table whose predicates evaluate directly.
  - P7/J5 RLS row predicate: tenant policies are arbitrary SQL; we compile
    each fixture policy to a Spark SQL expression over (record, claims)
    columns — correct for the test corpus, declared limitation for arbitrary
    SQL (see SURVEY.md §7 watch-list).

Scale notes: RLS evaluation is one CASE over the (tiny) policy registry,
run inside each matched change's row over its array of subscriptions (the
cdc.matched_pairs frame) with no join and no shuffle;
JWT verification is an Arrow-batched pandas UDF (hmac is CPU-bound Python,
but it runs once per connection/token, not per event — the hot event path
joins against already-verified claims).
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import math
from typing import Iterable, Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from realtime_spark.functions.pg_policy import _spark_str
from realtime_spark.session import local_frame

POLICY_SCHEMA_DDL = (
    "topic string, claims_role string, extension string, "
    "can_read boolean, can_write boolean"
)


# ---------------------------------------------------------------------------
# JWT (HS256) — stdlib-only implementation of the verify path
# ---------------------------------------------------------------------------


def _b64url_decode(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def _b64url_encode(b: bytes) -> str:
    return base64.urlsafe_b64encode(b).rstrip(b"=").decode()


def sign_jwt(claims: Mapping, secret: str) -> str:
    """Test-fixture token minting (HS256)."""
    header = _b64url_encode(json.dumps({"alg": "HS256", "typ": "JWT"}).encode())
    body = _b64url_encode(json.dumps(dict(claims), sort_keys=True).encode())
    msg = f"{header}.{body}".encode()
    sig = _b64url_encode(hmac.new(secret.encode(), msg, hashlib.sha256).digest())
    return f"{header}.{body}.{sig}"


def _round_claims_half_away(claims: dict) -> None:
    """In-place exp/iat decimal rounding, shared by every verification
    path. Elixir round/1 is half-away-from-zero; Python round() is
    banker's (exp=100.5 would diverge: 101 vs 100).
    Reference: jwt_verification.ex decimal-claims handling."""
    for key in ("exp", "iat"):
        if isinstance(claims.get(key), float):
            v = claims[key]
            claims[key] = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)


def _exp_is_number(exp) -> bool:
    """Joken's exp validator requires is_number — a string exp like "123"
    must fail, not be int()-coerced into a live token. JSON true/false are
    is_number=false in Erlang; bool is an int subclass in Python, so it is
    excluded explicitly. Shared by every verification path."""
    return not isinstance(exp, bool) and isinstance(exp, (int, float))


def clean_token(token: str) -> str:
    """channels_authorization.ex:40 ``clean_token/1``: percent-decode the
    token (URI.decode) and strip whitespace including newlines, so a
    token that arrived URL-encoded or pasted with line breaks still
    verifies. Applied before every verification path, like the
    reference's ``authorize/3``. The reference regex ``~r/\\s|\\n/`` is
    PCRE without the unicode flag, i.e. ASCII ``[ \\t\\n\\v\\f\\r]`` only —
    Unicode whitespace (U+00A0, U+2028, ...) is NOT stripped there, so a
    token containing it must fail verification here too."""
    import re as _re
    from urllib.parse import unquote

    return _re.sub(r"[ \t\n\v\f\r]", "", unquote(token))


def authorize_conn(
    token,
    jwt_secret: str | None = None,
    now_epoch: int | None = None,
) -> tuple[str, dict | None, str | None]:
    """``authorize_conn/3`` (channels_authorization.ex:19-37): clean the
    token, verify it through the full signer-resolution path, and shape
    the three outcomes — ('ok', claims, None), ('expired_token', None,
    'Token has expired N seconds ago'), or ('error', None, reason). A
    non-binary token is ('error', None, 'invalid_token'); missing
    role/exp claims are ('error', None, 'missing_claims').

    Ordering matches the reference: Joken's exp validator
    (jwt_verification.ex:23-26, ``is_number(&1) and &1 > current_time``)
    runs inside verify — i.e. BEFORE authorize_conn's required-claims
    check — but, like any Joken claim validator, only when the claim is
    present. So an expired token that also lacks 'role' reports
    'expired_token', and a present-but-non-numeric exp is a validation
    error (the reference's expired branch pattern-matches is_integer on
    claim_val and falls through to the generic {:error, reason})."""
    if not isinstance(token, str):
        return ("error", None, "invalid_token")
    cleaned = clean_token(token)
    # expiry is reported separately from signature failure, so decode the
    # claims once the signature itself verifies (exp check deferred)
    claims = verify_jwt_jwks(
        cleaned, jwt_secret, now_epoch=None, require_claims=False
    )
    if claims is None:
        return ("error", None, "invalid_token")
    if "exp" in claims:
        exp = claims["exp"]
        if not _exp_is_number(exp):
            return ("error", None, "invalid_token")
        exp = int(exp)  # decimals already rounded by verify_jwt_jwks
        if now_epoch is not None and exp <= now_epoch:
            return (
                "expired_token",
                None,
                f"Token has expired {now_epoch - exp} seconds ago",
            )
    if "role" not in claims or "exp" not in claims:
        return ("error", None, "missing_claims")
    return ("ok", claims, None)


def verify_jwt(token: str, secret: str, now_epoch: int | None = None) -> dict | None:
    """Returns the claims dict when the token verifies, else None.

    Mirrors the reference's checks: HS256 signature, required `role` and
    `exp` claims, expiry against `now`.
    """
    try:
        header_b64, body_b64, sig_b64 = token.split(".")
        header = json.loads(_b64url_decode(header_b64))
        if header.get("alg") != "HS256":
            return None
        msg = f"{header_b64}.{body_b64}".encode()
        expected = hmac.new(secret.encode(), msg, hashlib.sha256).digest()
        if not hmac.compare_digest(expected, _b64url_decode(sig_b64)):
            return None
        claims = json.loads(_b64url_decode(body_b64))
        _round_claims_half_away(claims)
        if "role" not in claims or "exp" not in claims:
            return None
        if not _exp_is_number(claims["exp"]):
            return None
        if now_epoch is not None and int(claims["exp"]) <= now_epoch:
            return None
        return claims
    except Exception:
        return None


# -- JWKS signer resolution (HS*/RS*), stdlib-only --------------------------
# Mirrors lib/realtime_web/channels/auth/jwt_verification.ex:63-150: RS* needs
# an RSA JWK matched by kid; HS* prefers an 'oct' JWK by kid, else falls back
# to the tenant secret; exp/iat decimals are rounded. ES*/Ed* would need
# elliptic-curve libs (absent here) and return None — declared limitation.

_HS_ALGS = {"HS256": hashlib.sha256, "HS384": hashlib.sha384, "HS512": hashlib.sha512}
# EMSA-PKCS1-v1_5 DigestInfo prefixes (RFC 8017 §9.2 notes)
_RS_ALGS = {
    "RS256": (hashlib.sha256, bytes.fromhex("3031300d060960864801650304020105000420")),
    "RS384": (hashlib.sha384, bytes.fromhex("3041300d060960864801650304020205000430")),
    "RS512": (hashlib.sha512, bytes.fromhex("3051300d060960864801650304020305000440")),
}


def _rsa_verify(n: int, e: int, msg: bytes, sig: bytes, alg: str) -> bool:
    """RSASSA-PKCS1-v1_5 verification by direct modexp: EM' = sig^e mod n
    must equal 0x00 0x01 FF..FF 0x00 DigestInfo || H(msg)."""
    h, prefix = _RS_ALGS[alg]
    k = (n.bit_length() + 7) // 8
    if len(sig) != k:
        return False
    em = pow(int.from_bytes(sig, "big"), e, n).to_bytes(k, "big")
    t = prefix + h(msg).digest()
    ps_len = k - len(t) - 3
    if ps_len < 8:
        return False
    expected = b"\x00\x01" + b"\xff" * ps_len + b"\x00" + t
    return hmac.compare_digest(em, expected)


# NIST curves for ECDSA JWTs (public FIPS 186-4 / SEC 2 constants):
# (p, a, b, Gx, Gy, n, hash, coord_bytes)
_EC_CURVES = {
    "ES256": (  # P-256 / secp256r1
        0xFFFFFFFF00000001000000000000000000000000FFFFFFFFFFFFFFFFFFFFFFFF,
        -3,
        0x5AC635D8AA3A93E7B3EBBD55769886BC651D06B0CC53B0F63BCE3C3E27D2604B,
        0x6B17D1F2E12C4247F8BCE6E563A440F277037D812DEB33A0F4A13945D898C296,
        0x4FE342E2FE1A7F9B8EE7EB4A7C0F9E162BCE33576B315ECECBB6406837BF51F5,
        0xFFFFFFFF00000000FFFFFFFFFFFFFFFFBCE6FAADA7179E84F3B9CAC2FC632551,
        hashlib.sha256,
        32,
    ),
    "ES384": (  # P-384 / secp384r1
        0xFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFEFFFFFFFF0000000000000000FFFFFFFF,
        -3,
        0xB3312FA7E23EE7E4988E056BE3F82D19181D9C6EFE8141120314088F5013875AC656398D8A2ED19D2A85C8EDD3EC2AEF,
        0xAA87CA22BE8B05378EB1C71EF320AD746E1D3B628BA79B9859F741E082542A385502F25DBF55296C3A545E3872760AB7,
        0x3617DE4A96262C6F5D9E98BF9292DC29F8F41DBD289A147CE9DA3113B5F0B8C00A60B1CE1D7E819D7A431D7C90EA0E5F,
        0xFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFC7634D81F4372DDF581A0DB248B0A77AECEC196ACCC52973,
        hashlib.sha384,
        48,
    ),
}

_EC_CURVES["ES512"] = (  # P-521 / secp521r1 (SEC 2 §2.6.1)
    2**521 - 1,
    -3,
    0x0051953EB9618E1C9A1F929A21A0B68540EEA2DA725B99B315F3B8B489918EF109E156193951EC7E937B1652C0BD3BB1BF073573DF883D2C34F1EF451FD46B503F00,
    0x00C6858E06B70404E9CD9E3ECB662395B4429C648139053FB521F828AF606B4D3DBAA14B5E77EFE75928FE1DC127A2FFA8DE3348B3C1856A429BF97E7E31C2E5BD66,
    0x011839296A789A3BC0045C8A5FB42C7D1BD998F54449579B446817AFBD17273E662C97EE72995EF42640C550B9013FAD0761353C7086A272C24088BE94769FD16650,
    0x01FFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFFA51868783BF2F966B7FCC0148F709A5D03BB5C9B8899C47AEBB6FB71E91386409,
    hashlib.sha512,
    66,
)

_EC_CRV_NAMES = {"ES256": "P-256", "ES384": "P-384", "ES512": "P-521"}


# --- Ed25519 (RFC 8032) — EdDSA JWTs --------------------------------------
# Pure-stdlib big-int arithmetic like the ECDSA path above: verification
# only handles PUBLIC points, so non-constant-time is fine; the sign helper
# exists to mint test fixtures.

_ED_P = 2**255 - 19
_ED_L = 2**252 + 27742317777372353535851937790883648493
_ED_D = -121665 * pow(121666, -1, _ED_P) % _ED_P
_ED_I = pow(2, (_ED_P - 1) // 4, _ED_P)  # sqrt(-1)


def _ed_recover_x(y: int, sign: int) -> int | None:
    x2 = (y * y - 1) * pow(_ED_D * y * y + 1, -1, _ED_P) % _ED_P
    x = pow(x2, (_ED_P + 3) // 8, _ED_P)
    if (x * x - x2) % _ED_P:
        x = x * _ED_I % _ED_P
    if (x * x - x2) % _ED_P:
        return None
    if x == 0 and sign:
        return None
    if x & 1 != sign:
        x = _ED_P - x
    return x


def _ed_add(P, Q):
    """Twisted-Edwards addition, extended homogeneous coords (x,y,z,t)."""
    x1, y1, z1, t1 = P
    x2, y2, z2, t2 = Q
    A = (y1 - x1) * (y2 - x2) % _ED_P
    B = (y1 + x1) * (y2 + x2) % _ED_P
    C = 2 * t1 * t2 * _ED_D % _ED_P
    D = 2 * z1 * z2 % _ED_P
    e, f, g, h = B - A, D - C, D + C, B + A
    return (e * f % _ED_P, g * h % _ED_P, f * g % _ED_P, e * h % _ED_P)


def _ed_mul(s: int, P):
    Q = (0, 1, 1, 0)  # identity
    while s:
        if s & 1:
            Q = _ed_add(Q, P)
        P = _ed_add(P, P)
        s >>= 1
    return Q


_ED_BY = 4 * pow(5, -1, _ED_P) % _ED_P
_ED_BX = _ed_recover_x(_ED_BY, 0)
_ED_B = (_ED_BX, _ED_BY, 1, _ED_BX * _ED_BY % _ED_P)


def _ed_decompress(b: bytes):
    if len(b) != 32:
        return None
    y = int.from_bytes(b, "little")
    sign = y >> 255
    y &= (1 << 255) - 1
    if y >= _ED_P:
        return None
    x = _ed_recover_x(y, sign)
    if x is None:
        return None
    return (x, y, 1, x * y % _ED_P)


def _ed_compress(P) -> bytes:
    zinv = pow(P[2], -1, _ED_P)
    x, y = P[0] * zinv % _ED_P, P[1] * zinv % _ED_P
    return (y | ((x & 1) << 255)).to_bytes(32, "little")


def ed25519_verify(pub: bytes, msg: bytes, sig: bytes) -> bool:
    """RFC 8032 §5.1.7 verification: [S]B == R + [H(R||A||M)]A."""
    if len(pub) != 32 or len(sig) != 64:
        return False
    A = _ed_decompress(pub)
    R = _ed_decompress(sig[:32])
    if A is None or R is None:
        return False
    S = int.from_bytes(sig[32:], "little")
    if S >= _ED_L:
        return False
    h = int.from_bytes(
        hashlib.sha512(sig[:32] + pub + msg).digest(), "little"
    ) % _ED_L
    sB = _ed_mul(S, _ED_B)
    rhA = _ed_add(R, _ed_mul(h, A))
    return (
        (sB[0] * rhA[2] - rhA[0] * sB[2]) % _ED_P == 0
        and (sB[1] * rhA[2] - rhA[1] * sB[2]) % _ED_P == 0
    )


def ed25519_public(seed: bytes) -> bytes:
    """Public key from a 32-byte seed (RFC 8032 §5.1.5) — test fixtures."""
    h = hashlib.sha512(seed).digest()
    a = int.from_bytes(h[:32], "little")
    a &= (1 << 254) - 8
    a |= 1 << 254
    return _ed_compress(_ed_mul(a, _ED_B))


def ed25519_sign(seed: bytes, msg: bytes) -> bytes:
    """RFC 8032 §5.1.6 signing — minting test tokens only (deterministic,
    no nonce to misuse; production signing lives with the IdP)."""
    h = hashlib.sha512(seed).digest()
    a = int.from_bytes(h[:32], "little")
    a &= (1 << 254) - 8
    a |= 1 << 254
    prefix = h[32:]
    A = _ed_compress(_ed_mul(a, _ED_B))
    r = int.from_bytes(hashlib.sha512(prefix + msg).digest(), "little") % _ED_L
    R = _ed_compress(_ed_mul(r, _ED_B))
    k = int.from_bytes(hashlib.sha512(R + A + msg).digest(), "little") % _ED_L
    s = (r + k * a) % _ED_L
    return R + s.to_bytes(32, "little")


def ed25519_public_jwk(seed: bytes, kid: str) -> dict:
    """OKP JWK (RFC 8037) for the seed's public key — test fixtures."""
    return {
        "kty": "OKP",
        "crv": "Ed25519",
        "kid": kid,
        "x": _b64url_encode(ed25519_public(seed)),
    }


def _ec_add(p1, p2, p, a):
    """Affine point addition on y² = x³ + ax + b over GF(p); None = infinity."""
    if p1 is None:
        return p2
    if p2 is None:
        return p1
    x1, y1 = p1
    x2, y2 = p2
    if x1 == x2:
        if (y1 + y2) % p == 0:
            return None
        lam = (3 * x1 * x1 + a) * pow(2 * y1, -1, p) % p
    else:
        lam = (y2 - y1) * pow(x2 - x1, -1, p) % p
    x3 = (lam * lam - x1 - x2) % p
    return (x3, (lam * (x1 - x3) - y1) % p)


def _ec_mul(k: int, pt, p: int, a: int):
    """Double-and-add scalar multiplication (verification only — no secret
    scalars handled here, so non-constant-time is fine)."""
    acc = None
    while k:
        if k & 1:
            acc = _ec_add(acc, pt, p, a)
        pt = _ec_add(pt, pt, p, a)
        k >>= 1
    return acc


def _ecdsa_verify(qx: int, qy: int, msg: bytes, sig: bytes, alg: str) -> bool:
    """ECDSA verification (SEC 1 §4.1.4) for JWS raw r||s signatures."""
    p, a, b, gx, gy, n, h, clen = _EC_CURVES[alg]
    if len(sig) != 2 * clen:
        return False
    r = int.from_bytes(sig[:clen], "big")
    s = int.from_bytes(sig[clen:], "big")
    if not (1 <= r < n and 1 <= s < n):
        return False
    # public key must be on the curve (invalid-curve attack guard)
    if (qy * qy - (qx * qx * qx + a * qx + b)) % p != 0:
        return False
    e = int.from_bytes(h(msg).digest(), "big") % n
    w = pow(s, -1, n)
    u1, u2 = e * w % n, r * w % n
    pt = _ec_add(
        _ec_mul(u1, (gx, gy), p, a), _ec_mul(u2, (qx, qy), p, a), p, a
    )
    return pt is not None and pt[0] % n == r


def ecdsa_sign(d: int, msg: bytes, alg: str, k: int) -> bytes:
    """Test-fixture ECDSA signing with a CALLER-SUPPLIED nonce k — for
    minting tokens in tests only (a fixed k leaks the key; production
    signing lives with the identity provider, not this engine)."""
    p, a, b, gx, gy, n, h, clen = _EC_CURVES[alg]
    e = int.from_bytes(h(msg).digest(), "big") % n
    r = _ec_mul(k, (gx, gy), p, a)[0] % n
    s = pow(k, -1, n) * (e + r * d) % n
    assert r and s, "degenerate nonce"
    return r.to_bytes(clen, "big") + s.to_bytes(clen, "big")


def ec_public_jwk(d: int, alg: str, kid: str) -> dict:
    """JWK for the public point of test key d."""
    p, a, b, gx, gy, n, h, clen = _EC_CURVES[alg]
    qx, qy = _ec_mul(d, (gx, gy), p, a)
    return {
        "kty": "EC",
        "crv": _EC_CRV_NAMES[alg],
        "kid": kid,
        "x": _b64url_encode(qx.to_bytes(clen, "big")),
        "y": _b64url_encode(qy.to_bytes(clen, "big")),
    }


def verify_jwt_jwks(
    token: str,
    jwt_secret: str | None = None,
    jwks: Mapping | None = None,
    now_epoch: int | None = None,
    require_claims: bool = True,
) -> dict | None:
    """Full signer-resolution verify path (jwt_verification.ex:49-150):

    - RS256/384/512 + kid -> RSA JWK from jwks['keys'] (kty=RSA, kid match)
    - ES256/ES384/ES512 + kid -> EC JWK (kty=EC, crv match): pure-stdlib
      ECDSA over P-256/P-384/P-521 with on-curve public-key validation
    - EdDSA + kid -> OKP JWK (crv=Ed25519): pure-stdlib RFC 8032 verify
    - HS256/384/512 + kid -> 'oct' JWK by kid (base64url 'k' is the secret),
      else fall back to jwt_secret (the common Supabase-auth case)
    - HS* without jwks -> jwt_secret
    - required claims: role, exp; exp/iat decimals rounded; exp > now

    The full JOSE alg list the reference accepts
    (lib/realtime_web/channels/auth/jwt_verification.ex) is now covered.
    Returns claims dict or None.
    """
    try:
        header_b64, body_b64, sig_b64 = token.split(".")
        header = json.loads(_b64url_decode(header_b64))
        alg = header.get("alg")
        kid = header.get("kid")
        msg = f"{header_b64}.{body_b64}".encode()
        sig = _b64url_decode(sig_b64)
        keys = (jwks or {}).get("keys", [])

        if alg in _RS_ALGS:
            jwk = next(
                (j for j in keys if j.get("kty") == "RSA" and j.get("kid") == kid),
                None,
            )
            if jwk is None or not isinstance(kid, str):
                return None
            n = int.from_bytes(_b64url_decode(jwk["n"]), "big")
            e = int.from_bytes(_b64url_decode(jwk["e"]), "big")
            if not _rsa_verify(n, e, msg, sig, alg):
                return None
        elif alg in _HS_ALGS:
            secret: bytes | None = None
            if isinstance(kid, str):
                jwk = next(
                    (
                        j
                        for j in keys
                        if j.get("kty") == "oct"
                        and j.get("kid") == kid
                        and isinstance(j.get("k"), str)
                    ),
                    None,
                )
                if jwk is not None:
                    secret = _b64url_decode(jwk["k"])
            if secret is None:
                if jwt_secret is None:
                    return None
                secret = jwt_secret.encode()
            expected = hmac.new(secret, msg, _HS_ALGS[alg]).digest()
            if not hmac.compare_digest(expected, sig):
                return None
        elif alg in _EC_CURVES:
            jwk = next(
                (
                    j
                    for j in keys
                    if j.get("kty") == "EC"
                    and j.get("crv") == _EC_CRV_NAMES[alg]
                    and j.get("kid") == kid
                ),
                None,
            )
            if jwk is None or not isinstance(kid, str):
                return None
            qx = int.from_bytes(_b64url_decode(jwk["x"]), "big")
            qy = int.from_bytes(_b64url_decode(jwk["y"]), "big")
            if not _ecdsa_verify(qx, qy, msg, sig, alg):
                return None
        elif alg == "EdDSA":
            jwk = next(
                (
                    j
                    for j in keys
                    if j.get("kty") == "OKP"
                    and j.get("crv") == "Ed25519"
                    and j.get("kid") == kid
                ),
                None,
            )
            if jwk is None or not isinstance(kid, str):
                return None
            if not ed25519_verify(_b64url_decode(jwk["x"]), msg, sig):
                return None
        else:
            return None  # unknown alg

        claims = json.loads(_b64url_decode(body_b64))
        _round_claims_half_away(claims)
        if require_claims and ("role" not in claims or "exp" not in claims):
            return None
        if now_epoch is not None and "exp" in claims:
            exp = claims["exp"]
            if not _exp_is_number(exp):
                return None
            if int(exp) <= now_epoch:
                return None
        return claims
    except Exception:
        return None


def verified_claims_col(token: Column, secret: str, now_epoch: int) -> Column:
    """Arrow-batched claims extraction: token -> claims JSON string or NULL."""

    @pandas_udf("string")
    def _verify(tokens: pd.Series) -> pd.Series:
        return tokens.map(
            lambda t: None
            if t is None
            else (
                (lambda c: json.dumps(c, sort_keys=True) if c else None)(
                    verify_jwt(t, secret, now_epoch)
                )
            )
        )

    return _verify(token)


def attach_claims(
    df: DataFrame, token_col: str, secret: str, now_epoch: int
) -> DataFrame:
    """Verify tokens and project (claims_json, claims_role); unverified rows
    keep NULL role and are droppable by the caller (fail-closed)."""
    out = df.withColumn(
        "claims_json", verified_claims_col(F.col(token_col), secret, now_epoch)
    )
    return out.withColumn(
        "claims_role", F.get_json_object(F.col("claims_json"), "$.role")
    )


# ---------------------------------------------------------------------------
# policy gates (P14 + authorization.ex read/write semantics)
# ---------------------------------------------------------------------------


def token_refresh_decisions(
    refreshes: DataFrame,
    policies: DataFrame,
    secret: str,
    now_epoch: int,
) -> DataFrame:
    """Access-token refresh semantics over a stream of per-connection
    refresh events (realtime_channel.ex:523-600 `handle_in("access_token")`)
    — the lazy re-verify + read-revocation check, set-at-a-time:

      - sb_-prefixed, NULL, or unchanged tokens -> 'noop'
      - new token fails verification        -> 'disconnect:invalid_token'
        (covers expired / tampered / missing role+exp — verify_jwt is
        fail-closed on all three)
      - read permission present under the OLD role but absent under the
        NEW role on the connection's topic -> 'disconnect:read_revoked'
        (check_read_permissions_revoked)
      - otherwise -> 'refreshed' carrying the new role

    Input: (conn_id, topic, private, old_role, refresh_token). The policy
    lookup joins broadcast-small (topic, role) read flags twice — old and
    new role; public topics never revoke (the reference only gates private
    channels)."""
    verified = refreshes.withColumn(
        "_claims", verified_claims_col(F.col("refresh_token"), secret, now_epoch)
    ).withColumn("new_role", F.get_json_object("_claims", "$.role"))
    p = F.broadcast(
        policies.filter(F.col("extension") == "broadcast").select(
            F.col("topic").alias("p_topic"),
            F.col("claims_role").alias("p_role"),
            F.col("can_read").alias("p_read"),
        )
    )
    with_old = verified.join(
        p.select(
            F.col("p_topic").alias("o_topic"),
            F.col("p_role").alias("o_role"),
            F.col("p_read").alias("old_read"),
        ),
        (F.col("topic") == F.col("o_topic"))
        & (F.col("old_role") == F.col("o_role")),
        "left",
    )
    with_new = with_old.join(
        p,
        (F.col("topic") == F.col("p_topic"))
        & (F.col("new_role") == F.col("p_role")),
        "left",
    )
    noop = (
        F.col("refresh_token").isNull()
        | F.col("refresh_token").startswith("sb_")
        | (F.col("refresh_token") == F.col("old_token"))
        if "old_token" in refreshes.columns
        else F.col("refresh_token").isNull()
        | F.col("refresh_token").startswith("sb_")
    )
    revoked = (
        F.col("private")
        & F.coalesce(F.col("old_read"), F.lit(False))
        & ~F.coalesce(F.col("p_read"), F.lit(False))
    )
    decision = (
        F.when(noop, F.lit("noop"))
        .when(F.col("new_role").isNull(), F.lit("disconnect:invalid_token"))
        .when(revoked, F.lit("disconnect:read_revoked"))
        .otherwise(F.lit("refreshed"))
    )
    return with_new.select(
        "conn_id",
        "topic",
        decision.alias("decision"),
        F.when(decision == "refreshed", F.col("new_role")).alias("active_role"),
    )


def policies_df(spark: SparkSession, specs: Iterable[Mapping]) -> DataFrame:
    rows = [
        {
            "topic": s["topic"],
            "claims_role": s.get("claims_role", "authenticated"),
            "extension": s.get("extension", "broadcast"),
            "can_read": bool(s.get("can_read", False)),
            "can_write": bool(s.get("can_write", False)),
        }
        for s in specs
    ]
    return spark.createDataFrame(rows, schema=POLICY_SCHEMA_DDL)


def gate_messages(
    messages: DataFrame,
    policies: DataFrame,
    mode: str = "read",
    extension: str = "broadcast",
) -> DataFrame:
    """Drop private messages whose (topic, role, extension) policy denies
    `mode`. Public messages pass (reference gates only private channels).

    Broadcast join on (topic, claims_role); fail-closed: a private message
    with no policy row is dropped, like an unauthorized probe. Duplicate
    policy rows for the same key are AND-merged (also fail-closed) so a
    conflicting pair can neither fan the message out twice nor let one
    permissive duplicate override a deny.
    """
    flag = "can_read" if mode == "read" else "can_write"
    p = F.broadcast(
        policies.filter(F.col("extension") == extension)
        .groupBy(
            F.col("topic").alias("p_topic"),
            F.col("claims_role").alias("p_role"),
        )
        .agg(F.min(F.col(flag)).alias("p_ok"))
    )
    joined = messages.join(
        p,
        (messages["topic"] == F.col("p_topic"))
        & (messages["claims_role"] == F.col("p_role")),
        "left",
    )
    return joined.filter(
        (~F.col("private")) | F.coalesce(F.col("p_ok"), F.lit(False))
    ).drop("p_topic", "p_role", "p_ok")


# ---------------------------------------------------------------------------
# RLS row predicates (P7/J5)
# ---------------------------------------------------------------------------


def rls_policies_df(spark: SparkSession, specs: Iterable[Mapping]) -> DataFrame:
    """RLS policy registry: one Spark SQL expression per (schema, table, role).

    The expression sees the change as `c` (`c.record`, `c.old_record`, ...)
    and the subscriber as `s` (`s.claims_role`, the claims map `s.claims`)
    — the compiled analog of the reference's per-role prepared statement +
    set_config claims (reference: migrations/20211116212300:36-68,
    20260626120000:491-536). Several rows for one (schema, table, role) are
    permissive policies and OR together, as in Postgres.
    """
    rows = [
        {
            "schema_name": s.get("schema", "public"),
            "table_name": s["table"],
            "claims_role": s.get("claims_role", "authenticated"),
            "policy_expr": s["policy_expr"],
        }
        for s in specs
    ]
    df = local_frame(
        spark,
        rows,
        "schema_name string, table_name string, claims_role string, policy_expr string",
    )
    df._rs_policy_rows = rows  # read by apply_rls_policies without a job
    return df


def apply_rls_exists_policy(
    sets: DataFrame,
    lookup: DataFrame,
    keys: Sequence[tuple[str, str]],
    table_name: str | None = None,
    claims_role: str = "authenticated",
) -> DataFrame:
    """EXISTS-subquery RLS (the J5 shape): a policy of the form
    `EXISTS (SELECT 1 FROM lookup WHERE lookup.col = record.key AND ...)`
    compiled to a LEFT-SEMI join — the reference's prepared-statement
    `select exists(select 1 from entity where pk = value)` probe
    (migrations/20211116212300:52-61) evaluated set-at-a-time instead of
    row-at-a-time.

    `sets` is the cdc.matched_pairs frame; it is exploded once here and the
    result is (change `c`, subscription `s`) pairs. `keys`:
    [(record_key, lookup_col)] equality pairs; the caller filters `lookup`
    to the policy's residual predicate first (it is just a DataFrame).
    Pairs for other entities/roles pass through untouched (RLS not enabled
    there); protected pairs survive only on a lookup hit — fail-closed like
    apply_rls_policies.

    Scale shape: one semi-join keyed on the record values; Catalyst
    broadcasts the lookup when small (the common policy-table case) and
    falls back to a shuffled semi-join when it is data-sized — either way
    no row expansion, no driver evaluation."""
    if not keys:
        # an EXISTS with no equality keys would degenerate to a cartesian
        # semi-join that passes every protected row — fail CLOSED instead
        raise ValueError("apply_rls_exists_policy requires at least one key pair")
    protected = (
        (F.col("c.schema_name") == F.lit("public"))
        & (F.col("s.claims_role") == F.lit(claims_role))
    )
    if table_name is not None:
        # == lit(None) would be NULL on every row, silently emptying BOTH
        # branches of the split; None means "this schema's every table"
        protected = protected & (F.col("c.table_name") == F.lit(table_name))
    target = F.when(
        F.col("c.action") == "DELETE", F.col("c.old_record")
    ).otherwise(F.col("c.record"))
    cond = None
    for rec_key, lk_col in keys:
        eq = target[rec_key] == F.col(f"_lk.{lk_col}").cast("string")
        cond = eq if cond is None else cond & eq
    pairs = sets.select("c", F.explode("subs").alias("s"))
    passed = pairs.filter(protected).join(
        lookup.alias("_lk"), cond, "left_semi"
    )
    return pairs.filter(~protected).unionByName(passed)


def _rls_case_sql(rls_policies: DataFrame) -> str | None:
    """The policy registry as one SQL CASE over a change `c` and a
    subscription `s`: per (schema, table, role) the OR of its policies, each
    NULL-as-false (fail-closed); no policy for the key -> true (RLS not
    enabled there). None when the registry is empty.

    The rows are read once per registry frame (rls_policies_df carries them,
    any other frame is collected once) and the CASE is kept on the frame."""
    memo = getattr(rls_policies, "_rs_rls_case", None)
    if memo is None:
        rows = getattr(rls_policies, "_rs_policy_rows", None)
        if rows is None:
            rows = [r.asDict() for r in rls_policies.collect()]
        groups: dict[tuple[str, str, str], set[str | None]] = {}
        for r in rows:
            key = (r["schema_name"], r["table_name"], r["claims_role"])
            if None not in key:  # a NULL key never equals a change's key
                groups.setdefault(key, set()).add(r["policy_expr"])
        whens = [
            f"WHEN c.schema_name = {_spark_str(schema)} AND c.table_name = "
            f"{_spark_str(table)} AND s.claims_role = {_spark_str(role)} THEN "
            + " OR ".join(
                "true" if e is None else f"coalesce(({e}), false)"
                for e in sorted(exprs, key=str)
            )
            for (schema, table, role), exprs in sorted(groups.items())
        ]
        memo = (f"CASE {' '.join(whens)} ELSE true END" if whens else None,)
        rls_policies._rs_rls_case = memo
    return memo[0]


def apply_rls_policies(sets: DataFrame, rls_policies: DataFrame) -> DataFrame:
    """Filter each matched change's subscriptions (`subs` of the
    cdc.matched_pairs frame) by the RLS policies for the (schema, table,
    role) of the change and the subscription.

    The distinct policy expressions of a deployment are enumerable, so the
    filter compiles to one CASE over the (small) policy registry, run inside
    the row as a lambda named `s` over the `subs` array: a subscription with
    no policy passes (RLS not enabled for that table); it passes when any of
    its key's policies is true and is dropped when all are false or NULL
    (fail-closed), matching `is_rls_enabled` semantics and Postgres's OR of
    permissive policies. The step adds no join, no broadcast and no shuffle,
    and its output is again a match-set frame; a change none of whose
    subscriptions pass keeps its row with an empty `subs`, which exploding
    or project_output's grouping turns into no rows.
    """
    case = _rls_case_sql(rls_policies)
    if case is None:
        return sets
    return sets.withColumn("subs", F.expr(f"filter(subs, s -> {case})"))
