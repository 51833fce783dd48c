"""Benchmark tests: ``python3 -m pytest whbench/tests -q`` from the repo root."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]
