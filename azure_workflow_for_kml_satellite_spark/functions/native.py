"""ctypes loader for the fused raster kernels (functions/native.c).

Compiles the C source with the system gcc on first use (cached as
``/tmp/kmlsat_native_<sha1>.so``, atomic rename so concurrent Spark
workers race safely) and exposes typed wrappers. Anything missing or
failing — no gcc, compile error, load error — leaves ``LIB = None`` and
the callers keep the pure-numpy path, which produces bit-identical
results (the C kernels are an exact mirror; see native.c header and
tests/test_native_kernels.py). The reason is kept in ``BUILD_ERROR`` and
printed to stderr once per process.

Flags: ``-O3 -ffp-contract=off`` and no fast-math — f32 subtract/add/
divide stay IEEE correctly-rounded scalar semantics, so C and numpy
agree bitwise. Disable with ``SPARK_GRAFT_NATIVE=0``.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import sys
import tempfile

_HERE = os.path.dirname(os.path.abspath(__file__))
_SRC = os.path.join(_HERE, "native.c")
# -ffp-contract=off: no FMA fusion — f32 sub/add/div stay the exact
# correctly-rounded per-op semantics numpy has. -march=native only widens
# integer/float ops to SIMD (still IEEE per element); if it is rejected
# the plain flag set below is tried.
_CFLAGS = [
    "-O3", "-fPIC", "-shared", "-ffp-contract=off", "-fno-math-errno",
    "-march=native",
]
_CFLAGS_FALLBACK = ["-O3", "-fPIC", "-shared", "-ffp-contract=off", "-fno-math-errno"]

LIB = None
# Why LIB is None after a failed compile or load (gcc's stderr tail or the
# exception text); None when the kernel loaded or SPARK_GRAFT_NATIVE=0.
BUILD_ERROR: str | None = None
_I64P = ctypes.POINTER(ctypes.c_int64)
_F32P = ctypes.POINTER(ctypes.c_float)

KIND_S2 = 0
KIND_LANDSAT = 1
KIND_BARE = 2


def _build() -> "ctypes.CDLL | None":
    global BUILD_ERROR
    if os.environ.get("SPARK_GRAFT_NATIVE", "1") == "0":
        return None
    errors = []
    try:
        with open(_SRC, "rb") as f:
            src = f.read()
        so_path = None
        for flags in (_CFLAGS, _CFLAGS_FALLBACK):
            tag = hashlib.sha1(src + " ".join(flags).encode()).hexdigest()[:16]
            cand = os.path.join(tempfile.gettempdir(), f"kmlsat_native_{tag}.so")
            if os.path.exists(cand):
                so_path = cand
                break
            fd, tmp = tempfile.mkstemp(
                suffix=".so", prefix="kmlsat_build_", dir=tempfile.gettempdir()
            )
            os.close(fd)
            try:
                subprocess.run(
                    ["gcc", *flags, "-o", tmp, _SRC],
                    check=True,
                    capture_output=True,
                    timeout=120,
                )
                os.rename(tmp, cand)  # atomic; losers just overwrite
                so_path = cand
                break
            except subprocess.CalledProcessError as e:
                tail = e.stderr.decode(errors="replace").strip()[-500:]
                errors.append(f"gcc {' '.join(flags)}: {tail or e}")
            except (OSError, subprocess.SubprocessError) as e:
                errors.append(f"gcc {' '.join(flags)}: {e!r}")
            finally:
                if os.path.exists(tmp):
                    try:
                        os.remove(tmp)
                    except OSError:
                        pass
        if so_path is None:
            BUILD_ERROR = "; ".join(errors)
            return None
        lib = ctypes.CDLL(so_path)
        lib.kmlsat_window_valid.restype = ctypes.c_int64
        lib.kmlsat_window_valid.argtypes = [
            ctypes.c_uint32, ctypes.c_int32, ctypes.c_int64, ctypes.c_int64,
            ctypes.c_int64, ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
            _I64P, _I64P, ctypes.c_uint32, _F32P, _I64P,
        ]
        lib.kmlsat_change_pair_valid.restype = ctypes.c_int64
        lib.kmlsat_change_pair_valid.argtypes = [
            ctypes.c_uint32, ctypes.c_int32, ctypes.c_int64, ctypes.c_int64,
            ctypes.c_int64, ctypes.c_int64, _I64P, _I64P, ctypes.c_uint32,
            ctypes.c_uint32, ctypes.c_int32, ctypes.c_int64, ctypes.c_int64,
            ctypes.c_int64, ctypes.c_int64, _I64P, _I64P, ctypes.c_uint32,
            ctypes.c_int64, ctypes.c_int64, _F32P,
        ]
        lib.kmlsat_stats_f32.restype = None
        lib.kmlsat_stats_f32.argtypes = [
            _F32P, ctypes.c_int64, ctypes.c_float, ctypes.c_float,
            _F32P, _I64P,
        ]
        return lib
    except Exception as e:
        BUILD_ERROR = "; ".join([*errors, repr(e)])
        return None


LIB = _build()
if BUILD_ERROR:
    print(f"kmlsat native kernel unavailable, using numpy: {BUILD_ERROR}",
          file=sys.stderr)


def available() -> bool:
    return LIB is not None


def stats_f32(arr, loss_t: float = 0.0, gain_t: float = 0.0):
    """All per-row reductions of a contiguous float32 array in one C call
    (numpy-exact; see native.c §stats): returns
    ``(mean, std, vmin, vmax, med_lo, med_hi, n_loss, n_gain)`` where the
    floats are bitwise np.mean/np.std/np.sort-order-statistic values and
    the counts are ``sum(arr < loss_t)`` / ``sum(arr > gain_t)`` under
    numpy's f32 scalar-comparison cast. Caller guarantees len >= 1,
    float32, C-contiguous, no NaN."""
    import ctypes

    out6 = (ctypes.c_float * 6)()
    out2 = (ctypes.c_int64 * 2)()
    LIB.kmlsat_stats_f32(
        arr.ctypes.data_as(_F32P), len(arr),
        ctypes.c_float(loss_t), ctypes.c_float(gain_t), out6, out2,
    )
    return (
        out6[0], out6[1], out6[2], out6[3], out6[4], out6[5],
        int(out2[0]), int(out2[1]),
    )
