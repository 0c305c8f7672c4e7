from . import _zipcache

_zipcache.install()
