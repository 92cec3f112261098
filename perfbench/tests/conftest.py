"""Make the engine in this checkout importable for the benchmark's tests."""

from perfbench.env import import_program

import_program()
