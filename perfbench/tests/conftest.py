import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the benchmark's modules, and the engine package at the checkout root
sys.path[:0] = [HERE, os.path.dirname(HERE)]
