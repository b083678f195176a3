"""spark-marky: document-to-markdown conversion on Spark."""
from . import zipcache

zipcache.install()
