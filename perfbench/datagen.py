"""Seeded inputs: drives tools/gen_sf.py's generator with its seed replaced
by the benchmark's, so the same --seed gives byte-identical tables."""
import contextlib
import importlib.util
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _generator():
    path = ROOT / "tools" / "gen_sf.py"
    spec = importlib.util.spec_from_file_location("gen_sf", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def generate(sf: float, seed: int, outdir: Path) -> None:
    """Write every table at scale factor `sf` into `outdir`. numpy seeds
    must be non-negative, so the seed is taken modulo 2**32."""
    gen = _generator()
    gen.SEED = seed % 2**32
    argv = sys.argv
    sys.argv = ["gen_sf.py", str(sf), str(outdir)]
    try:
        # the generator reports table sizes on stdout, which carries only
        # the benchmark's result
        with contextlib.redirect_stdout(sys.stderr):
            gen.main()
    finally:
        sys.argv = argv
