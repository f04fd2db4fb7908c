"""brotli decoding (ops/brotlicodec.py: WBITS header + libbrotlidec
from pyarrow) — validation + fuzz.

Three INDEPENDENT external pins (the round-6 codec lesson: every
codec needs evidence outside its own test encoders):

1. An embedded real-brotli-authored artifact — Debian's shipped
   ``underscore.min.js.br`` (6,648 bytes, compressed by the brotli
   CLI at package build time) must decode to EXACTLY the shipped
   original (length + sha256 pinned; byte-compared against
   ``/usr/share/javascript`` when present).
2. Round-trips through the reference C encoder (``libbrotlienc`` via
   ctypes, test-only) at qualities 0-11 / window sizes 10-24 over
   payload shapes chosen to hit every format corner: static
   dictionary hits with word transforms, distance-ring reuse chains,
   block switching, context-mapped literals, uncompressed
   metablocks.
3. The hand-authored oracle-subset stream (uncompressed metablocks +
   a metadata skip block — the shape the SQL value oracle replays)
   is ALSO decoded by the reference ``libbrotlidec`` through ctypes
   so the authored constants are pinned outside the decode path.

Plus the fuzz battery every binary parser in this repo gets:
truncation, bit flips, random garbage, and decompression bombs vs
the ``max_out`` budget — must raise BrotliError, never hang or OOM.
"""

import base64
import ctypes
import ctypes.util
import glob
import hashlib
import random

import pytest

from goose_parser_spark.ops.brotlicodec import (
    BrotliError, decompress, decompress_info)

# Debian underscore 1.13.4 package artifact, brotli-CLI-authored.
UNDERSCORE_BR = base64.b64decode(
    "8WhLIqKaNFfAosA2pg/5Q7TvVpa3WtPwonSBLEQNOUKPnZMu5rTX216nKUVrB+gDwmTsluWc"
    "Th4q/qfTqlpQAV/D29R5nvcfl0O50UHscBZhhJzBL1P9Ol1HnET/SM6GiIPlEOWUVFsqCGrI"
    "sMlu/qfXlj2qtTL9b6frBhDTqG1CltTM6SB0MLXvbx5TQ0g2fK+aVtUSEMETP5s5zvkkCAT9"
    "Fk2W251nJf7/U7V82w3Ic0i5c1NJ2nXvKqWmE/7/M2NhAPIwpKAnQKLeUiFvEDeFAcDzAhT9"
    "HrTaAqtteCnTMUqncwzVVb1Drvx6d40765RhUGVzn+dvoSxDV4uzp7+BDsIqIQN9ugznf77t"
    "i60UQogQoZN7V3OAF0QJcmyQ0qtBzJoWbAVnYSkDLwu1pQJ14pZ/vMvq5yhsy1UXBjSCML7o"
    "snEZP67LTSXgVZCJb9IAuGb1SGMAuahM+damXpaQl4LSfTaskxXAWNL5x3lEVYxsXC5gyw5S"
    "bqVY9QKb7PVnvjm3t+e/rkCEgUB1Bjbn0pQ0hNLCaE3iyDczuLiXV/fQEPa1RnuBh1chCtDt"
    "Z3Sopl11iL5GfZLtM9iXhJjF299Rj+6Syi2vGi0Ulbl9Idkrs4/84gy2hJX2nxmEjx+Jc56P"
    "4de6PeBsd7AnRPGbfrvNlQvwWiB/BnVqErfjaZTfrwe4/wmnjAB/lpBcD8WpWKAHuxUhXfxL"
    "LL//XJxhBx/2sdY6OpxodIU9DjGYzmrS+rL68MgCUFdeLlWnEceaeh05/1c2VPXvx9Vhmay8"
    "KxU0u5RAIGyGh+J5rvG9Bwd66OVnHc69/MHfbnWiUNCTnTlNNLUJ8E0N5sVFedQF+XMWUTFb"
    "uAp4uT8OovWi3RmZjQCh/zBRQDXBoZ11UP2ZXO3nGXesecV80RbDjlFMNkbJ8VcfQVoSAVHh"
    "qK0Bc6oZtd+nP8wC1raAHJ8n6Les0rlqY72vLas2XmQWgf6kK6i7ZUEmrWfMVL1rkEhP28fm"
    "qxxUeAgKOMdgKofUDjqmg00Loc6IS5XuXrjM0fVJf+eVHTw+zbtF+7BqCCvSFBRgMgVT2Wyl"
    "qly9i9GK+iZCEpgdIe48xskHFavE3Hn0IQN2pPIEs8bRFhqG7nTQHlXgIaT2USVNHfZRFamM"
    "CK8SxeQFBwmE571RyGAbnzAHiBifN2BQFOHlDHHialwAGCCnjfkjjbNed8mg2R0SOEXSzA8y"
    "Yy0dCYhpgrH3+R7qBeQGiTg9YYE5zLb8U7qnTmmzk2MAAc7Q4iEIYK7xnO7vWR6IgrzFD0yj"
    "FmhN9+UjxnW12iBFSs17P8SmnW+6vYzwBaOpQ33Y7mSI3j9piAhcXGObUBr4ORhauymlkGMK"
    "+WLsNMyhKGOXqnLgQ2fUcA5WWKCUyw3Y472xQU+4c6lSmkk2tbXUhYwuhs80C1BoLnk1JqPb"
    "BUJNh0Ee4QDkGKt0bjB1Xas3rBNLjfyF2jeq5b/R3bXizzdiCO1CFuA59HutpL98La+v72+3"
    "fvwh/5z0MK/daL740C2isOPz5p3qP0fj7KlfNL1bj0/eLpvYhryN7psiLx/1LZTRqb+jqu/m"
    "d+QhCprzcNml/u+ndAoZkVgiT+YgLjdefBpczsCmXEVtOlSwI78tRE3I0P55kPBvYsoabRQ4"
    "ELRnp7zG96T5bwunrgS3SKvVTjj1gE3gjF+pyMyDIHDJHKNR1+c/c0kX4BpMaorhxwwf7QVN"
    "VU1tIlZQaB1Lt5p8+WDAj/f639MQ3Eb3tg5Zx5NLnyPRAjxtLTH4tNXaFGxnbqBTAw2Mq/FN"
    "3/0vst59yUJybzq0DpCaNvhpPAvSAZgWXAVeR1gRnRRg1wABO8wt3PWrNTcAEckF4XJh9sCJ"
    "IHXueu5TATZg2TttSDcCt17EaXjPYBYKbC1rmsMFpIEDZEDJYQOtXK9K4ggt6ByEzq0Zjpej"
    "luGduNdnz4iauVDhU2i+ny9GLWGT4LZYAjlDbhmNqXsFpbtFXR8tsNCEye/7V0J7QJW9sHiX"
    "bl5OyzXPLmdvrZoWNMRxz03Qpbuc1pJ2Jgy8YVMopuZh5qUFssMgMPJ8gaQwK/BOlU6FAA+L"
    "c3E9FVZoizQzQBsMPnLOd4kdrTaMU3X5loPLs52HL1BGJVYNtcvd9JEX7g4pgCIM8qbBKu+v"
    "Ilon4QIpZCZa9jwWZih3sHbZIwNikTADBhVagXpDOpifN3wM0zwmt1YCIW9n3PLcQ6yyjduX"
    "1bUQBbRTe1XyouTrxYU8j5/FBwrb2prm0aYykEzR2uyJQADxMvqPe4XyR2pbcsNktSC5k2hB"
    "xnILoZz+xMHE/BqORSuZB8yL1JYhAIgRcnmP/Knm6LU6likvHGXndBcxiXgLPlql54KFHpQW"
    "2gW+Wc5AtJd2yiIBoDOEaRSyT2R0snu4Ny4rz7B/wi8PI3JbFMsE4n9SLOCwtYINFtLLynjF"
    "iqMOwTNudO77cyT4ZaIzn+8libPI5dcBvFaWzN9wrtb/yU3SoZ+fRGZeLQQgfqKyOXYxFa5v"
    "KRKeCDRVT433nF2iaZBoJPTzA0abEMy8oKUonOkp6QdAbiZ2mnO3ldXZ5cW5EdsPJI0h9xIm"
    "dbcrRxdGJkzrtZLGTuv7cPYyNLwubY2cA2O+ZLrZ7cbKfjasK3sR86yvJU2NtlJsLEmZhqCy"
    "4j6WBlAE/lAAW3UAnbXO7MhmRn35s/N5DOsYrd7CjJdc0a0zVlWdYXZv1oGm/v7+m1TPTHZ6"
    "4IWZl0dMR9hoYuAzg1v5/6NWiygzpoN1lGpHgp3jF6/WZvxaAGcM5icLV/RlyC1crPpxhIdU"
    "3FjHOyhd0r67bhU/on8PBoa8FhZlgtgFU58zgubpCfMXRf6rQuD+Hh/sznxaJ6AR8hscZNtx"
    "yAubDoJ/hKjB3aR1Gd4lCRLqJEqrR7MKsCNQfe9CriCDdsVy3RxOr5EpsF/0dUhmCkAI38Tk"
    "jTOvPtB6G17btWKEMv6YJoIZiZfVViDL85IgOQxXNgEmp/O1RU2UYb34gCo6fQuRCgRBgFps"
    "mXFNQ6vfxAvKSA12+wHnqtchCczsbO5OCsscBYZn9sYqqAT19k/pl35pCtcoPlOhk1O1pkoV"
    "7lcGsQcS4ZFQeBPgsbGZl4EgHsFtyus1u67T7nee+rRxh9M6yzEUSoyCFAUnZRJozFUwmTwv"
    "F+jcCGl0UT3SZA8Wu1teGyA2ziHUJW36mr/xf01JNwPZ49AMbW+A8EqGCiad2Gus/S2s7TL2"
    "Wee7OY06fpnzqptxEplDEUT71yxPSBMmdyXzgXBsN1OFvf/SgqiW3Ip28ZbH8NdboZwxI9hd"
    "DkLkDjOWloxRo+cuXmLc7W/BIR+98zozrnO4jvL46MftNazEVa84KAn7traEmSOpv3+q38sf"
    "Liyic2kMV1GWITzPgLI8OfvRM4qydz3LASh47l9bqWqE1vWm+DrRIZcoG1eSUoUGdBzAY16v"
    "Yj4xOGEeWh9bz/1oNE5fg6rHh7qQUlmUpcg4qNF8VWZNHt6tCrQEpsbpoGr09ujtCpFnf1IU"
    "+PYTZfXyQolTV3IogYqfp3nDyhR3nVcOHc9WPvOtUhufyfDxd0JUt269/sNUXlVmr/rd5MB3"
    "ho9K3t46//rW4j4XvPD70DHxI/TC33Zod7bv54jb0P65uonb8we6Wcd9Lvx+f9v+1v9/+bqO"
    "D6uLn8uMJaILfedr9NInrVPC2jG2n3hzH/odx3o3Gf4ZusH2ktyguq89LQwTwpxgLK60TuGw"
    "20HXeaH1TK9hckoZO6W2nbGWP8ZY2Z2nQpnxPPsLLyDEVnEZrL5tJ/TLYnHx51ifXXWvOlK3"
    "lyFjJ5kGTP1Y56fo55y46mtwTGqIDDMSWqzYc32Hvc9VlyZwsUVEpTRRtz5ddpqE5ss6zIkG"
    "yIyGRyeGgexHFYBp6GaWgRCiG+k1rYPG68h/vrkOl0B4sQntuGQjIdrOQgoDv0IjKEdNnvmd"
    "aPJ1yy0OQusKZe053HjO4fzyJIMBk75BF+KhROSVoNPZE48S0zGdCr4J3T6PA5xxXFvQUilE"
    "8MPh6H+uQz1qKpCZv6bYUxeyPNfGbEerxAOry8FloYWAHUsYocHZRAcjm6EJ1JaQGfPkJzza"
    "FC2R+ZKNkh97XZSqvVDQx1P4pmmH4Uulf66twItFYiNIAYDVvFvR4blZDUlx/4/KI/Wt99Pr"
    "oGlxZkhNlngZ7pKel5IPdihZEM8G/pO1aGzgiBiR5EwOcLTiAae/tWy96fw3uvmBpDM+rJgS"
    "pTBNSl2FIjDcHC3I4UGIvYj6hpTXUZd4plvy9KM+RAWhg+jm/UeJBEjxEDqxy0DPVhL6f1xN"
    "2JHyKmC6Qc89kbC/7hasN/XriNNXfQBsh9ARWksKsM9YaCx8zcWesn+cppAkCXVtDimLkdBD"
    "Fv7T81cpjVCyIdExNQ39Z6YpkdB9M8Uo02W/Wssb89+3mgfLRtHU4AXKkO412q/P+BrhMg85"
    "3kPDZdLJlFb4Ru4rrwqWKmvo3b+zVl0bKWylg0D9xMX0SPapc12g7CoYlRyuWjwrVnJRFMKM"
    "EcMqD4SFkSD0TtGht4zek5eTNJE2tvC8Guja1tqvYC0U2HfS6UVv21cSbiualXT5kPIksYAW"
    "KNRb10lF2cMMz4Jr+5oiW34eAamDJJoslsVTat8uJYdV15p2grRUZNxrU3NGyjHQ6+06mULq"
    "xd8sWuVyJGFpyUWP/Ep4si+bJFbXz7HZs1ISafcA7DJgXEOBEdmN0RaxQiwBDeIb6t3cs+xZ"
    "KHuuq8GkYv8uH9bdlL6EqdQVbaGmR5UJGXpggwOkxFL9HumFM4JtcoNuzqvTZQwzwc07cwqj"
    "R/m0eBrHXbrBsMF+Px6RCiFlXT+DgErzu7f+UvMDkFgNFjL+AOFfRRSZ4a4aM5bY9AX56k5N"
    "HTw4Sc+v65fhoWxmn85uuVt0NQ4oSaxrr0fqfoRGsFLNX9SjikXaXC1WtGG5UajYSnXTABvG"
    "6tSNHNcwsMw0hRPq2lY6FJFEJfXSxtwGZYmwJJyK7PkGMJIWwEY6co8ZJbfhwQor3S99/T++"
    "4ZD28fwwgnq/RrsQLBBtnkkvphBNDRHNbTS/XVHAJdfWuIs7P9Jsm3IY0Dh28GBEz2KrVesM"
    "neKXui1q+HqUzhwnj1kKh6hpKRkvTmgzn9Ko2fDw5qpMQ5xwWJFnseDxIoPXlkszy8OVglTK"
    "3c5FxrsADSZBYmuMuZTNfUmn6SuVQLkq11MByUym4XZyoMqSzmYsvgWK97WohhxNyKKoczuJ"
    "eetdceQeqWFUq+zbM22QBwtgFme/7rUlKDrvQ70YfllRGMbsBnkLMFeaPBxPKjkl4Srk9039"
    "/nevLq9m4eoEh1RV9TD/lllLML1XVeRbLLLb0Wf6SnkWRJizCH4gBD84en6e1pSBLIpuwtKn"
    "6KntCF7yU3KEQayrJBHWeSVySBksaqgkItYBtTT5kZEj56QNRyIebwT7uZ6Owg+4CzE6iKqv"
    "Tlh0k5/wbjgiddGLIpA+uh8zYs4/QQr19GeB//3bMG2GN900WdHRfDt20RVh5lTihIxls967"
    "fjhUlpDo9Ulkrh17OK29vqNYt8M6E/DPZRtq8ziAN9H6sbwve3DbvZvJYpnz6pWfmG13mW7u"
    "B5EPHhQbYTYRmtC+LXtrgt4z4wLxUzPApHcTYrZDYsXm68h10nUieMqRdpcyRM7GGJCy4eA3"
    "9BNZ2SoWWahfSiVDZBwhNnuJyekuTmBWyKvTGC5IegwRcI5gJOI4rnWtOrKxEXlav74Pi4hW"
    "3HjMrIwyUjuf+XKZqE+kv/Q/pxqUZapBwUx1fJSTgamVjdMTpcFlIEq3bf8UB12Vp413wOlU"
    "GTPZb05yqF2hnIQbCtCYZ/IX5z4LLORvZleTeK8EFZb+joDd11mKkjV7E/uEnw2N8z5JJAVC"
    "0oYS22KBeCgudO1pg1k2ixpimFIY0eFUWeYuI4muluXuIOeOAk4dF5P/bLrMfdo/A1OC6Suz"
    "1dgm5r0syXpfU341Z0ZTIcDKqTnGKz/heMc/z9M4JdhufGUu0gKmt7a0gsBKaKdrmhm25YIf"
    "K04JlaviboZl7e8gRPtRtUSXG1IxOgdlyyCHl1KYg9P2Hqk0dCXsp3IImZrCPuCfrCuQn8r3"
    "yNpcu0BSTKLBLPspTs03+PV6KpQp+vuNTX1/9oYqE2zIFWHsB1Vb4NY4w4fzW0tjv81trM2M"
    "OMhT5B4yAf7REDfCUAmtaFo0BETU+RM/1VL7kH0oc5j0ZqFOG5FXGmO4EXnODiDnQ8zQbDey"
    "o2/Jie6jI0P2FLHdXG7KgF0eqruUzf5+WOOQ9CO4NBkjaP1IUdoNdiy/Nxk+jcLoyf1RvHQ6"
    "6K2TAwz7PMxwwR+fl5trmqUdpDNFx5dR2oJ2FtBRHXtAruQw8fCly5I58XgBk8XnEyE2yDQ1"
    "Aml/mniQJJEm3aZIkKZ4CjG0gM9b+HxjQrxbc1glE6EVA3oXqbC7KqeqntqU09RQonlGsrFQ"
    "8hVrNPPBIG7eOlzww0GYe7M49OxtSzL1piE4axK51lL1y6YPY4XqpGKnfeil9dEIEhyvWXOx"
    "4ODR2/Nk7/ZetNP0QJ9cDEITybvoyFt/cOvIyS/YMmf84L/dmokXc/P8Fw5HHYaQbpBYBBoP"
    "4Qjzy2PqS0qR203bxsD3gB4ZOkk9L+C5OefXuuVs+AKiwHAdsXE5m5AeThcJo5TH0gFQYH/l"
    "N4nepA9dWzBIAoD49Bxbbm/5PLjZ3wqF9YZHH1QE06N/reUj8ijwfKRgIv/erXnc24mNLxHu"
    "aMrqjMKpwJRFQp5+zb+vSp3e9Edf0+8pVbUyjzMWdt109CK42X4sscaMILRuAvOHcFAK6Nn1"
    "3A8wYi2KCUDIvLoLvzK8yVzfO/qLyJzmkaI7jaSHtugCt13WgHqFyYkQ09SJIYuzUJD6CmxT"
    "iMrvCB2EOUotXUhRdndCzz3PmZebPwIe7puS3NE53oa/AWPDWCxmWJPi9ZfQiAuIS1MyWLnU"
    "eUBwjhemyHugG6P9DDuFchOoGOzW5NWcSRv/nXvgU0djz3OkOWJ3WfW039b4uxHhk/zmGmps"
    "KndzMdZoFWe50LHj2mngFz52yysXPh/e8RyrvKjZ6v19Ve0Lqd6qBf3T+3In5yyesIkPie/n"
    "s5XccwyFHcjMSwFc2HxcytLkPUcL6uqUWL8EpK+lnWT3vKe6C7sADCrx3+7+c+sZk/hsfgSX"
    "jD98VuBPpgpHL4yqpsQntF//60hq7fCww9b0lhU3fRNC7BhfvK+c7bf6PYc9l8qUmF0KarYx"
    "7AKjZbdQN0MiDQ4UqCf/HyHyPLL14Ls1mMczFS2p0HkVWD15RIwK4OmQSp6WlrJG0qizUjez"
    "VJ0rKXumoNi7Vn3zbJbJsLFCbhR/u6i9iSdLPCnuSCD61ZV804t1uSJ0sF1MKjQoq2fIDBFJ"
    "6xfQJUA1mKHnw2eMjeii1rzLl0Xjf60+D95G4c18h8ucqzTcIPnxP5JGZPWeegSgbtLSG7EV"
    "Rg/Xk1ZPOD0XswcB7qjmYWs52HT16cSC1TFVnVDZ68PXoMT4A8DihV2YMT9CfbQd0TTUxexL"
    "2ItZkD55QNCmRHYzSRf+ZRBA4NgDlKlyjB7mm5LL/Na+lkKi59PPd1kZfG5blFxsIQnln47M"
    "FWQXqLze7IIbSDfs3obqtXZddjmy3fusaymQDXlbI+qNqGhOZS0O+PXr09JA3zWHU45UK8A9"
    "cUsnhdCXUzx6OHADQVJciOvcaQRE6kceVhiZmdipARBls6HByO3zBhQ7EySCpjqmpYAgnNBc"
    "8Zddk5kHnwqSkvO0+zqnRddBz0Be4eTGcF2nzoNchlPec2dihLCIPy9hdALj0of20ZtJhast"
    "ZQkeD5T48zGBFAiyJDLJ+J6lDbPABCCmyy2tE6NzJwhHiD4moaP1GHgyxixDoA+jvBREPAYB"
    "WbpedCSEZG8XdUuHSjXAVkzj6s1SELiRDLOQCn882GsXT/J1xKPV3l3JHrhcD9rxS8MKyoGa"
    "yG/b9Tf3QTjxyV2alAWeA4Y8mUO333PbMHOKY+ivzJiYiBE3772VKbF4RJTVTb74XDPpsSE2"
    "r9rmjThMHIc+o6A5ugD3neURB+2wjb+qxUu5SuTTr73RJXBj+KANcIo93GErJzjootM2bzhI"
    "xpFd8cCnJT3Jnu3HkGu4NLzD9H7o5+xHgRXm0OO93hIxjlILMXjlSBqGE82lu27j+JEYJjTk"
    "AS4S6zTJ3Jiv2R8HLhN965LCMyLzP20+QDqsgPgxo7p4l6Zb88WyerOtKt+xI14N7N9MLtiu"
    "+1J0s2878XFOcO/G3N8i5ehOm6pz33mBylIxWnUwnBYSEaMoU/L36dyCQPd9liGCB+TdIp/H"
    "IFD2wkGJt9RYsVW7ZXHIeiZCqEKeIRG85oXY5ydRwT1vlAzAsvj2yFkFtilb44gzR9g24iJI"
    "ZNl4T/AkhIR9YpJHutVYng2uC8vIuZ6YY5P9zhP2sY6cJCZ7JBwn5obExm/msXH8wvO6e+cT"
    "Gd6Np+NnlCF8/74yZSdEAuGpF0VekUft4ZsW2fV8fCsTrHhV5fQzO77p/GERo2tZq63xm8AR"
    "iafyjXiUiGaTN/bm1i2QA+wVe3l8MJ5uSDT3M22gcIYhUST0TCSCzOkNyFAoGA63VtRGYfdm"
    "V/Kd62VhIBfoKCUxpndcz0Yqw7SmOGdRGHaqe+4mXhinHpwH+LOr3kbBSFL6ToX/7j++qzqB"
    "cO3hv4YHHXUiNzHiOEXJ5ccUMoeHG/6EFFHfoUN9RCYQ9BK27Ep61F7GwsYod89pDXlRYT59"
    "qDUS/z1oChXzT09vtu0mgY1cktGqjhnJ8bJpk1WVISmDa0plDZUaASXDNf3bQ93yLilnO9gj"
    "T3oWBSQB")
UNDERSCORE_LEN = 18798
UNDERSCORE_SHA256 = \
    "875bcdb9a31df1918997ce7bab73be864d48a25f4e58ca2520f667e8d52000ba"


def _load(names):
    for name in names:
        for pat in (f"/usr/lib/*/{name}.so*", f"/usr/lib/{name}.so*"):
            hits = sorted(glob.glob(pat))
            if hits:
                return ctypes.CDLL(hits[0])
        found = ctypes.util.find_library(name.replace("lib", ""))
        if found:
            return ctypes.CDLL(found)
    return None


def _ref_encoder():
    lib = _load(["libbrotlienc"])
    if lib is None:
        return None
    lib.BrotliEncoderCompress.restype = ctypes.c_int
    lib.BrotliEncoderCompress.argtypes = [
        ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.POINTER(ctypes.c_size_t), ctypes.c_char_p]

    def compress(data: bytes, quality: int = 11, lgwin: int = 22) -> bytes:
        out_len = ctypes.c_size_t(len(data) + 1024)
        buf = ctypes.create_string_buffer(out_len.value)
        ok = lib.BrotliEncoderCompress(
            quality, lgwin, 0, len(data), data, ctypes.byref(out_len), buf)
        assert ok == 1
        return buf.raw[:out_len.value]

    return compress


def _ref_decoder():
    lib = _load(["libbrotlidec"])
    if lib is None:
        return None
    lib.BrotliDecoderDecompress.restype = ctypes.c_int
    lib.BrotliDecoderDecompress.argtypes = [
        ctypes.c_size_t, ctypes.c_char_p,
        ctypes.POINTER(ctypes.c_size_t), ctypes.c_char_p]

    def ref_decompress(data: bytes, max_out: int = 1 << 26) -> bytes:
        out_len = ctypes.c_size_t(max_out)
        buf = ctypes.create_string_buffer(out_len.value)
        r = lib.BrotliDecoderDecompress(
            len(data), data, ctypes.byref(out_len), buf)
        assert r == 1, f"reference decoder rejected stream ({r})"
        return buf.raw[:out_len.value]

    return ref_decompress


# ---------------------------------------------------------------------------
# Pin 1: the Debian artifact
# ---------------------------------------------------------------------------


def test_debian_artifact_byte_identical():
    out = decompress(UNDERSCORE_BR)
    assert len(out) == UNDERSCORE_LEN
    assert hashlib.sha256(out).hexdigest() == UNDERSCORE_SHA256
    # direct byte-compare against the shipped original when present
    hits = glob.glob("/usr/share/javascript/underscore/underscore.min.js")
    if hits:
        assert out == open(hits[0], "rb").read()


def test_second_host_artifact_if_present():
    pairs = [(br, br[:-3]) for br in
             glob.glob("/usr/share/**/*.br", recursive=True)
             if glob.glob(br[:-3])]
    if not pairs:
        pytest.skip("no host .br artifacts")
    for br_path, orig_path in pairs[:4]:
        out = decompress(open(br_path, "rb").read())
        assert out == open(orig_path, "rb").read()


# ---------------------------------------------------------------------------
# Pin 2: round-trips through the reference C encoder
# ---------------------------------------------------------------------------


def _payload(kind: int, n: int, rng: random.Random) -> bytes:
    if kind == 0:        # incompressible
        return bytes(rng.randrange(256) for _ in range(n))
    if kind == 1:        # dictionary-word + transform heavy
        words = [b"the", b"http://www.", b" of the ", b"<div class=\"",
                 b"Management", b" information about ", b"function",
                 b"Copyright", b"\xc3\xa9t\xc3\xa9 ", b"WORLD. "]
        return b"".join(rng.choice(words) for _ in range(n // 6))[:n]
    if kind == 2:        # long runs: distance-1 copies, RLE-ish
        return b"".join(bytes([rng.randrange(4)]) * rng.randrange(1, 40)
                        for _ in range(n // 16))
    if kind == 3:        # periodic text: distance-ring reuse
        return (b"lorem ipsum dolor sit amet " * (n // 20 + 1))[:n]
    # mixed-script UTF-8: context-map exercise
    return (("pażdziernika буква "
             "日本語 " * (n // 30 + 1))[:n]).encode()


def test_roundtrip_vs_reference_encoder():
    compress = _ref_encoder()
    if compress is None:
        pytest.skip("libbrotlienc not available")
    rng = random.Random(1234)
    for trial in range(150):
        n = rng.randrange(0, 6000)
        data = _payload(trial % 5, n, rng)
        q = rng.choice([0, 1, 2, 4, 5, 7, 9, 10, 11])
        w = rng.choice([10, 16, 18, 22, 24])
        comp = compress(data, quality=q, lgwin=w)
        assert decompress(comp, max_out=1 << 26) == data


def test_roundtrip_large_window_copies():
    compress = _ref_encoder()
    if compress is None:
        pytest.skip("libbrotlienc not available")
    # one payload big enough for multi-metablock output and far
    # backward references
    rng = random.Random(7)
    page = bytes(rng.randrange(256) for _ in range(4096))
    data = (page + b"filler between " * 100) * 40
    comp = compress(data, quality=9, lgwin=22)
    assert decompress(comp, max_out=1 << 26) == data


def test_empty_and_tiny_inputs_roundtrip():
    compress = _ref_encoder()
    if compress is None:
        pytest.skip("libbrotlienc not available")
    for data in (b"", b"a", b"ab", b"\x00", b"the"):
        for q in (0, 5, 11):
            assert decompress(compress(data, quality=q)) == data


# ---------------------------------------------------------------------------
# Pin 3: the hand-authored oracle-subset stream
# ---------------------------------------------------------------------------

# Constants shared with driver_queries.q_brotli_decode: WBITS=16
# stream header + uncompressed metablock (MLEN 16), then a metadata
# skip block (4 skipped bytes), then an uncompressed metablock
# (MLEN 8), then the ISLAST+ISLASTEMPTY trailer. All headers are
# byte-aligned constants because ISUNCOMPRESSED realigns the reader.
ORACLE_HDR1 = bytes.fromhex("f00010")
ORACLE_META = bytes.fromhex("d600")
ORACLE_HDR2 = bytes.fromhex("380008")
ORACLE_TRAILER = bytes.fromhex("03")


def _oracle_stream(a16: bytes, skip4: bytes, b8: bytes) -> bytes:
    assert len(a16) == 16 and len(skip4) == 4 and len(b8) == 8
    return (ORACLE_HDR1 + a16 + ORACLE_META + skip4
            + ORACLE_HDR2 + b8 + ORACLE_TRAILER)


def test_oracle_stream_shape():
    stream = _oracle_stream(b"0123456789abcdef", b"JUNK", b"ABCDEFGH")
    out, wbits = decompress_info(stream)
    assert out == b"0123456789abcdefABCDEFGH"
    assert wbits == 16


def test_oracle_stream_vs_reference_decoder():
    ref = _ref_decoder()
    if ref is None:
        pytest.skip("libbrotlidec not available")
    rng = random.Random(99)
    for _ in range(20):
        a = bytes(rng.randrange(256) for _ in range(16))
        s = bytes(rng.randrange(256) for _ in range(4))
        b = bytes(rng.randrange(256) for _ in range(8))
        stream = _oracle_stream(a, s, b)
        assert ref(stream) == a + b  # constants pinned externally
        assert decompress(stream) == a + b


def test_metadata_block_flagged_last_decodes_as_reference():
    # wbits=16 (1 bit), ISLAST=1, ISLASTEMPTY=0, MNIBBLES=3
    # (metadata), reserved=0, MSKIPBYTES=0, pad -> one byte 0x1A;
    # libbrotlidec takes it as an empty stream
    ref = _ref_decoder()
    if ref is None:
        pytest.skip("libbrotlidec not available")
    assert decompress(bytes([0x1A])) == ref(bytes([0x1A])) == b""


def test_nonzero_padding_rejected():
    # flip a padding bit in the first uncompressed header
    bad = bytearray(_oracle_stream(b"x" * 16, b"y" * 4, b"z" * 8))
    bad[2] |= 0x80  # pad bits live in the top of hdr1's third byte
    with pytest.raises(BrotliError):
        decompress(bytes(bad))


# ---------------------------------------------------------------------------
# Fuzz battery (house standard)
# ---------------------------------------------------------------------------


def test_truncations_never_hang():
    base = UNDERSCORE_BR
    for cut in range(0, len(base), 257):
        try:
            decompress(base[:cut], max_out=1 << 22)
        except BrotliError:
            pass


def test_bit_flips_never_hang_or_crash():
    rng = random.Random(5150)
    base = bytearray(UNDERSCORE_BR)
    for _ in range(120):
        flip = rng.randrange(len(base) * 8)
        base[flip >> 3] ^= 1 << (flip & 7)
        try:
            decompress(bytes(base), max_out=1 << 22)
        except BrotliError:
            pass
        base[flip >> 3] ^= 1 << (flip & 7)


def test_random_garbage_never_hangs():
    rng = random.Random(31337)
    for _ in range(300):
        blob = bytes(rng.randrange(256)
                     for _ in range(rng.randrange(0, 512)))
        try:
            decompress(blob, max_out=1 << 22)
        except BrotliError:
            pass


def test_bomb_hits_budget_not_memory():
    compress = _ref_encoder()
    if compress is None:
        pytest.skip("libbrotlienc not available")
    bomb = compress(b"\x00" * (1 << 25), quality=1)  # 32 MB of zeros
    assert len(bomb) < 1 << 16
    with pytest.raises(BrotliError, match="budget"):
        decompress(bomb, max_out=1 << 20)


def test_decode_http_body_br():
    from goose_parser_spark.sources.warc import decode_http_body
    compress = _ref_encoder()
    if compress is None:
        pytest.skip("libbrotlienc not available")
    body = b"<html><body>brotli page</body></html>"
    head = ("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n"
            "Content-Type: text/html\r\n")
    assert decode_http_body(head, compress(body)) == body
    # malformed brotli keeps raw bytes (best-effort contract)
    assert decode_http_body(head, b"\x00\x01garbage") in (
        b"\x00\x01garbage", b"")


def test_trailing_bytes_after_stream_are_an_error():
    """Arrow's reader decodes past a stream's last metablock as a
    further stream, so junk there is a BrotliError (libbrotlidec's
    one-shot call ignores it) and an HTTP body keeps its raw bytes."""
    from goose_parser_spark.sources.warc import decode_http_body
    compress = _ref_encoder()
    if compress is None:
        pytest.skip("libbrotlienc not available")
    body = b"<html><body>brotli page</body></html>"
    good = compress(body)
    junk = good + b"junk"
    assert decompress(good) == body
    with pytest.raises(BrotliError):
        decompress(junk)
    head = "HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n"
    assert decode_http_body(head, good) == body
    assert decode_http_body(head, junk) == junk
