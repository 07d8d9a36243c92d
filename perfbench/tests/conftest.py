import os
import sys

# the benchmark's modules import each other as top-level modules
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
